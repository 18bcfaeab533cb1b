"""Round-6 pins: the bounded-Levenshtein verifier kernel is pair-for-pair
identical to the unbounded form it replaced (VERDICT r5 task 1), and the
perceptual-hash image near-dup (task 5): planted behavior, Arrow-kernel /
JVM signature parity, and banding losslessness vs brute-force Hamming."""

from pyspark.sql import functions as F

from magiceye_spark.llmops import multimodal
from magiceye_spark.llmops.dedup import (
    _edit_distance_sides,
    edit_distance_near_dups,
    hamming_band_near_dups,
)


def test_bounded_levenshtein_matches_unbounded_filter(spark):
    """`levenshtein(a, b, t) != -1` must equal `levenshtein(a, b) <= t`,
    with the SAME distance value emitted inside the bound — the exact
    substitution made at the dedup.py verifier (banded DP, early exit).
    Checked on a corpus with pairs on both sides of the bound, including
    exactly-at-threshold ties."""
    max_dist = 8
    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("tmpl "),
            # vary a block of length id%17 so distances straddle max_dist=8
            F.substring(F.lit("abcdefghijklmnopq"), 1, (F.col("id") % 17 + 1).cast("int")),
            F.lit("z" * 70),
        ).alias("text"),
    )
    a, b, bkeys = _edit_distance_sides(docs, max_dist, 80, "text", 10**9)
    cands = (
        a.join(b, [*bkeys, "salt"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(F.abs(F.length("prefix_a") - F.length("prefix_b")) <= max_dist)
    )
    bounded = cands.withColumn(
        "d", F.levenshtein("prefix_a", "prefix_b", max_dist)
    ).where(F.col("d") != -1)
    unbounded = cands.withColumn(
        "d", F.levenshtein("prefix_a", "prefix_b")
    ).where(F.col("d") <= max_dist)
    got = sorted(map(tuple, bounded.select("doc_a", "doc_b", "d").collect()))
    want = sorted(map(tuple, unbounded.select("doc_a", "doc_b", "d").collect()))
    assert got == want and len(got) > 0
    # and some candidate pairs genuinely exceeded the bound (-1 branch hit)
    assert bounded.count() < cands.count()
    # the production operator agrees with its own oracle-shaped reformulation
    prod = sorted(map(tuple, edit_distance_near_dups(docs, max_dist=max_dist).collect()))
    assert prod == want


def test_window_detector_walks_chain_and_matches_pid_exactly(spark):
    """ADVICE r5: the single-partition-window detector must (a) flag an
    unpartitioned Window.orderBy, (b) permit the two-phase offsets window,
    and (c) NOT be fooled by a sort column whose name merely contains
    _pid."""
    from pyspark.sql.window import Window

    from magiceye_spark import plans
    from magiceye_spark.io import two_phase_window

    df = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("v"))
    naive = df.withColumn("rn", F.row_number().over(Window.orderBy("v", "id")))
    assert plans.single_partition_window_contexts(naive)

    ok = two_phase_window(df, [F.col("v").asc(), F.col("id").asc()], rank_col="rn")
    assert not plans.single_partition_window_contexts(ok)
    spark.catalog.clearCache()

    sneaky = df.withColumnRenamed("v", "shop_pid").withColumn(
        "rn", F.row_number().over(Window.orderBy("shop_pid", "id"))
    )
    assert plans.single_partition_window_contexts(sneaky)


def _media_from_texts(spark, texts):
    rows = [(i, "image", t.encode(), ("png", 16, 16, 100, 16000)) for i, t in enumerate(texts)]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


def test_phash_near_dups_planted(spark):
    """Byte-identical payloads hash to distance 0; a light perturbation
    (few bytes changed) stays within the threshold; an unrelated payload
    joins no pair."""
    base = "the quick brown fox jumps over the lazy dog " * 6
    near = base.replace("quick", "quack", 1)
    far = "".join(chr(33 + (i * 7) % 90) for i in range(260))
    media = _media_from_texts(spark, [base, base, near, far])
    got = {(r.doc_a, r.doc_b): r.hamming for r in multimodal.phash_near_dups(media).collect()}
    assert got[(0, 1)] == 0
    assert (0, 2) in got and got[(0, 2)] <= 3
    assert all(3 not in pair for pair in got)


def test_phash_kernel_matches_jvm_signatures(spark):
    """The Arrow mapInPandas kernel (the real-decode plug point) must be
    bit-identical to the JVM formulation on the synthetic media table."""
    media = multimodal.synth_media(spark, "/root/testdata/sf0.001").limit(60)
    jvm = {
        r.doc_id: (r.bits, r.band0, r.band1, r.band2, r.band3)
        for r in multimodal.phash_signatures(media).collect()
    }
    kern = {
        r.doc_id: (r.bits, r.band0, r.band1, r.band2, r.band3)
        for r in multimodal.phash_signatures_kernel(media).collect()
    }
    assert jvm == kern and len(jvm) == 60


def test_phash_banding_lossless_vs_bruteforce(spark):
    """Pigeonhole claim: for max_hamming <= 3 the 4x16-bit band join loses
    no pair — compare against brute-force Hamming over all signature
    pairs."""
    media = multimodal.synth_media(spark, "/root/testdata/sf0.001").limit(80)
    sigs = multimodal.phash_signatures(media).collect()
    brute = set()
    for i, a in enumerate(sigs):
        for b in sigs[i + 1 :]:
            d = sum(x != y for x, y in zip(a.bits, b.bits))
            if d <= 3:
                pair = (min(a.doc_id, b.doc_id), max(a.doc_id, b.doc_id))
                brute.add((*pair, d))
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in multimodal.phash_near_dups(media).collect()
    }
    assert got == brute and len(brute) > 0


def test_bench_family_baselines_cover_family_queries():
    """Every family-bench query must carry a committed baseline (else the
    2x regressions gate silently skips it) and every baseline must still
    name a benched query; all names must be registered."""
    import bench

    from magiceye_spark import registry

    family_names = {n for names in bench.FAMILIES.values() for n in names}
    # special-cased seats (shared-artifact graph protocol, stored-index
    # probes) are emitted by bench helpers rather than registry queries,
    # but must still carry committed baselines
    assert family_names | bench.EXTRA_SEATS == set(bench.FAMILY_BASELINE)
    assert family_names <= set(registry.queries())
    assert all(v > 0 for v in bench.FAMILY_BASELINE.values())


def test_hamming_band_salt_spreads_hot_bucket(spark):
    """Hot-bucket salt mechanism for the shared band join: a planted
    300-doc identical-signature corpus (one bucket per band) with
    bucket_cap=50 must split the left side into >=6 salt groups of <=2x
    the cap, while producing the exact unsalted pair set."""
    from magiceye_spark.llmops.dedup import _hamming_band_sides

    sigs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.array_repeat(F.lit(1), 64).alias("bits"),
        F.lit(7).cast("long").alias("band0"),
        F.lit(7).cast("long").alias("band1"),
        F.lit(7).cast("long").alias("band2"),
        F.lit(7).cast("long").alias("band3"),
    )
    a, _ = _hamming_band_sides(sigs, bucket_cap=50)
    groups = a.groupBy("band_id", "bucket", "salt").count().collect()
    per_band = {}
    for r in groups:
        per_band.setdefault(r["band_id"], []).append(r["count"])
        assert r["count"] <= 100  # <= 2x cap per salt group
    assert all(len(c) >= 6 for c in per_band.values())

    salted = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in hamming_band_near_dups(sigs, 3, bucket_cap=50).collect()
    }
    plain = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in hamming_band_near_dups(sigs, 3, bucket_cap=10**9).collect()
    }
    assert salted == plain and len(plain) == 300 * 299 // 2


def _reference_bpe(word_counts, num_merges):
    """Independent textbook Sennrich BPE over a word-frequency dict —
    quadratic rescan each merge (no inverted index), the slow-but-obvious
    formulation the incremental trainer must match."""
    splits = {w: tuple(list(w) + ["</w>"]) for w in word_counts}
    merges = []
    for rank in range(num_merges):
        pairs = {}
        for w, n in word_counts.items():
            seq = splits[w]
            for p in zip(seq, seq[1:]):
                pairs[p] = pairs.get(p, 0) + n
        if not pairs:
            break
        (left, right), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merged = left + right
        merges.append((rank, left, right, merged, cnt))
        for w in word_counts:
            seq, out, i = splits[w], [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == left and seq[i + 1] == right:
                    out.append(merged)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            splits[w] = tuple(out)
    return merges


def test_bpe_train_matches_reference(spark):
    """The incremental inverted-index trainer must equal the quadratic
    textbook formulation merge-for-merge on a corpus with repeated words,
    shared prefixes, and tie-able pair counts."""
    from collections import Counter

    from magiceye_spark.llmops.textstats import bpe_train

    texts = [
        "low low low lower lowest",
        "new newer newest new new",
        "wide wider widest low new",
    ]
    docs = spark.createDataFrame(
        [(i, t, "s") for i, t in enumerate(texts)], "doc_id long, text string, source string"
    )
    wc = Counter(w for t in texts for w in t.split())
    want = _reference_bpe(dict(wc), 20)
    got = [tuple(r) for r in bpe_train(docs, num_merges=20).collect()]
    assert got == want and len(got) == 20


def test_bpe_segment_stats_compression(spark):
    """Applying the learned merges must reduce symbol count (chars/symbol
    > 1), never below the whitespace-token floor, and agree with a direct
    Python application of the same merges."""
    from magiceye_spark.llmops.textstats import bpe_segment_stats, bpe_train

    texts = ["the cat sat on the mat", "the cat ran to the cat mat"]
    docs = spark.createDataFrame(
        [(i, t, "s") for i, t in enumerate(texts)], "doc_id long, text string, source string"
    )
    merges_df = bpe_train(docs, num_merges=10)
    row = bpe_segment_stats(docs, merges_df).collect()[0]
    assert row["n_tokens"] == sum(len(t.split()) for t in texts)
    assert row["n_chars"] == sum(len(w) for t in texts for w in t.split())
    assert row["n_symbols"] >= row["n_tokens"]  # can't beat 1 symbol/word
    assert row["chars_per_symbol"] > 1.0  # merges actually compress

    # direct Python application of the same merge list
    merges = [(r["left"], r["right"]) for r in merges_df.orderBy("rank").collect()]
    n_sym = 0
    for t in texts:
        for w in t.split():
            seq = list(w) + ["</w>"]
            for left, right in merges:
                out, i = [], 0
                while i < len(seq):
                    if i + 1 < len(seq) and seq[i] == left and seq[i + 1] == right:
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(seq[i])
                        i += 1
                seq = out
            n_sym += len(seq)
    assert row["n_symbols"] == n_sym


def test_bpe_segment_stats_boundary_anchored(spark):
    """Regression (review finding): a merge whose left symbol is a suffix
    of an earlier merged symbol must NOT fire inside that symbol. With
    merges (t,o)->to then (o,w)->ow, 'stow' segments as [s,to,w,</w>] —
    the unanchored regexp chain produced [s,tow,</w>]."""
    from magiceye_spark.llmops.textstats import bpe_segment_stats

    docs = spark.createDataFrame(
        [(0, "stow", "s")], "doc_id long, text string, source string"
    )
    merges_df = spark.createDataFrame(
        [(0, "t", "o", "to", 1), (1, "o", "w", "ow", 1)],
        "rank INT, left STRING, right STRING, merged STRING, pair_count BIGINT",
    )
    row = bpe_segment_stats(docs, merges_df).collect()[0]
    assert row["n_symbols"] == 4  # s, to, w, </w>


def test_phash_handles_non_utf8_binary_payload(spark):
    """Regression (review finding): genuine binary payloads (invalid
    UTF-8 — 0xFF/0x80 bytes) must hash without ANSI decode errors, and
    the JVM hex-fold must stay bit-identical to the kernel's raw-byte
    fold on them."""
    raw = bytes([0xFF, 0x80, 0x01, 0x42] * 40)
    rows = [
        (0, "image", raw, ("png", 16, 16, 100, 16000)),
        (1, "image", raw, ("png", 16, 16, 100, 16000)),
        (2, "image", bytes(range(200, 0, -1)), ("png", 16, 16, 100, 16000)),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    jvm = {
        r.doc_id: (r.bits, r.band0, r.band1, r.band2, r.band3)
        for r in multimodal.phash_signatures(media).collect()
    }
    kern = {
        r.doc_id: (r.bits, r.band0, r.band1, r.band2, r.band3)
        for r in multimodal.phash_signatures_kernel(media).collect()
    }
    assert jvm == kern and len(jvm) == 3
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in multimodal.phash_near_dups(media).collect()}
    assert pairs.get((0, 1)) == 0


def test_fit_psi_baseline_edge_cases(spark):
    """Review findings: empty baseline must raise a clear error; a
    constant column must fit (width-1 convention, everything in bin 0)
    and score without ANSI cast errors."""
    import pytest as _pytest

    from magiceye_spark.streaming.drift import fit_psi_baseline, value_psi_drift

    empty = spark.range(0).select(F.col("id").cast("double").alias("value"))
    with _pytest.raises(ValueError, match="no non-null"):
        fit_psi_baseline(empty, "value")

    const = spark.range(100).select(F.lit(42.0).alias("value"))
    bins, mn, mx = fit_psi_baseline(const, "value")
    assert bins[0] == (0, 100) and all(n == 0 for _, n in bins[1:])
    row = value_psi_drift(const, bins, "value", mn, mx).collect()[0]
    assert row["n_rows"] == 100 and abs(row["psi"]) < 1e-9


def test_two_phase_cummax_excl_matches_naive(spark):
    """two_phase_window's exclusive running max must equal the naive
    unpartitioned-window formulation on a unique total order, including
    the NULL on the global first row — forced across 8 range partitions
    so the prefix-combine path actually exercises."""
    from magiceye_spark.io import two_phase_window

    rows = [(i, (i * 7919) % 101) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        r.k: r.m
        for r in two_phase_window(
            df, [F.asc("k")], cummax_excl={"m": "v"}, num_partitions=8
        ).collect()
    }
    run, want = None, {}
    for k, v in rows:  # rows already in k order
        want[k] = run
        run = v if run is None else max(run, v)
    assert got == want


def test_skyline_2d_matches_bruteforce(spark):
    """Sort-based skyline equals the O(n²) dominance reference on a
    300-point set engineered with duplicate points (must co-survive),
    same-price ties, and a strictly-dominated diagonal."""
    import itertools

    from magiceye_spark.analytics import skyline_2d

    pts = [((i * 37) % 50 + ((i * 13) % 7) / 10.0, (i * 61) % 40)
           for i in range(150)]
    pts += pts[:20]  # exact duplicates
    rows = [(i, c, s) for i, (c, s) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, cost double, size long")
    got = sorted(r.id for r in skyline_2d(df, "cost", "size").collect())
    want = sorted(
        i for i, c, s in rows
        if not any(
            qc <= c and qs >= s and (qc < c or qs > s) for _, qc, qs in rows
        )
    )
    assert got == want and len(want) > 1


def test_pps_sample_matches_reference_and_takeordered(spark):
    """Sequential-Poisson selection equals a pure-Python reference doing
    the identical md5-coin + division math (the k-boundary is exact —
    no transcendental in the key), zero-weight rows are excluded, and
    the physical plan is TakeOrdered, not a global sort."""
    import hashlib

    from magiceye_spark.llmops.pipeline import pps_weighted_sample

    rows = [(i, "s%d" % (i % 3), (i * 37) % 11) for i in range(200)]  # some w=0
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = pps_weighted_sample(docs, k=20, salt="pps-v1")
    got = sorted(r.doc_id for r in out.collect())

    def key(i, w):
        x = int(hashlib.md5(f"pps-v1{i}".encode()).hexdigest()[:8], 16)
        return ((x + 1) / 4294967296.0) / w

    ref = sorted(
        ((key(i, w), i) for i, _, w in rows if w > 0)
    )[:20]
    assert got == sorted(i for _, i in ref)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_scd2_point_in_time_semantics(spark):
    """Per-fact time-travel: each fact picks the interval covering ITS
    version — change boundaries honored (as-of v is the state AT v, the
    new value on the change version itself), a fact landing in a deleted
    window gets NULL payload, an unknown key gets NULL payload, and each
    fact emits exactly one row (intervals are disjoint)."""
    from magiceye_spark.datadiff import build_scd2, scd2_point_in_time

    def snap(rows):
        return spark.createDataFrame(rows, "id long, v string")

    hist = build_scd2(
        [
            (1, snap([(1, "a"), (2, "x"), (3, "m")])),
            (2, snap([(1, "a"), (2, "y"), (3, "m")])),
            (3, snap([(1, "a"), (2, "y")])),           # 3 deleted
            (4, snap([(1, "b"), (2, "y"), (3, "m2")])),  # 1 changes, 3 back
        ],
        ["id"],
    )
    facts = spark.createDataFrame(
        [(100, 1, 1), (101, 1, 3), (102, 1, 4),   # a, a, b (change at 4)
         (103, 3, 2), (104, 3, 3), (105, 3, 4),   # m, DELETED, m2
         (106, 9, 2)],                             # key never existed
        "fact_id long, dim_id long, as_of long",
    )
    out = scd2_point_in_time(facts, hist, keys=["id"], as_of_col="as_of",
                             fact_keys=["dim_id"])
    got = {r.fact_id: r.v for r in out.collect()}
    assert got == {100: "a", 101: "a", 102: "b",
                   103: "m", 104: None, 105: "m2", 106: None}
    assert out.count() == facts.count()  # one row per fact, no fan-out
    # equi-conjunct must carry the join: no nested-loop/cartesian plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_connected_components_mechanism(spark, monkeypatch):
    """Min-label propagation on a hand-built graph: a 6-node chain (the
    transitive case pair filters miss), a 2-node island, and a triangle —
    every node must land on its component's MINIMUM id on the distributed
    path (forced by a zero small-graph cap)."""
    from magiceye_spark.llmops import graph
    from magiceye_spark.llmops.graph import connected_components

    monkeypatch.setattr(graph, "SMALL_GRAPH_EDGE_CAP", 0)

    edges = spark.createDataFrame(
        # chain 10-11-12-13-14-15, island {20,21}, triangle {30,31,32}
        [(10, 11), (11, 12), (12, 13), (13, 14), (14, 15),
         (20, 21), (30, 31), (31, 32), (32, 30)],
        "src long, dst long",
    )
    expect = {n: 10 for n in range(10, 16)} | {20: 20, 21: 20} | {n: 30 for n in (30, 31, 32)}
    got = {r.node: r.comp_id for r in connected_components(edges).collect()}
    assert got == expect


def test_triangle_stats_planted_graph(spark):
    """Degree-oriented triangle enumeration on a hand-built graph: a K4
    clique (every node deg 3, 3 triangles, clustering 1.0), a 4-leaf star
    (center deg 4, 0 triangles, clustering 0.0 — the hub/chain regime the
    coefficient exists to flag), a 3-path (middle deg 2, clustering 0.0),
    and one K4 node wired to the star center (checks triangles don't leak
    across the bridge)."""
    from magiceye_spark.llmops.graph import triangle_stats

    edges = spark.createDataFrame(
        # K4 on {1,2,3,4}; star center 10 with leaves 11-14; path 20-21-22;
        # bridge 4-10
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
         (10, 11), (10, 12), (10, 13), (10, 14),
         (20, 21), (21, 22), (4, 10)],
        "src long, dst long",
    )
    got = {
        r.node: (r.deg, r.n_triangles, r.clustering)
        for r in triangle_stats(edges).collect()
    }
    assert got[1] == (3, 3, 1.0) and got[2] == (3, 3, 1.0) and got[3] == (3, 3, 1.0)
    assert got[4] == (4, 3, 0.5)        # K4 member + bridge: 3 of C(4,2)=6
    assert got[10] == (5, 0, 0.0)       # star center + bridge, no closure
    assert got[11] == (1, 0, 0.0)       # leaf: deg<2 guard
    assert got[21] == (2, 0, 0.0)       # path middle
    # each triangle contributes exactly 3 node-incidences: C(4,3)=4 in K4
    assert sum(t for (_, t, _) in got.values()) == 3 * 4


def test_connected_components_deep_chain_log_rounds(spark, monkeypatch):
    """A 64-node path graph on the distributed path: pointer jumping must
    converge within O(log diameter) rounds (max_iter=8 covers 2^8 hops ≫
    63), and must raise — not return wrong labels — when capped at two
    rounds, which cannot close the path."""
    import pytest as _pytest

    from magiceye_spark.llmops import graph
    from magiceye_spark.llmops.graph import connected_components

    monkeypatch.setattr(graph, "SMALL_GRAPH_EDGE_CAP", 0)

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src long, dst long"
    )
    got = {
        r.node: r.comp_id
        for r in connected_components(edges, max_iter=8).collect()
    }
    assert got == {n: 0 for n in range(64)}
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)


def test_keep_per_cluster_drops_chain_middles(spark):
    """Transitive keep-one must beat pairwise keep-lowest on chains:
    build docs where A~B and B~C pass the Jaccard threshold but A~C does
    not — pairwise drop-the-right-side keeps {A, C}; the closure keeps
    only A."""
    from magiceye_spark.llmops.dedup import jaccard_near_dups
    from magiceye_spark.llmops.graph import dedup_keep_per_cluster

    base = [f"w{i}" for i in range(10)]
    texts = {
        1: " ".join(base),                      # A: w0..w9
        2: " ".join(base[1:] + ["x1"]),         # B: 9/11 with A (~0.818)
        3: " ".join(base[2:] + ["x1", "x2"]),   # C: 9/11 with B, 8/12 with A (~0.667)
        4: "completely different content here", # untouched singleton
    }
    docs = spark.createDataFrame(
        [(i, t, "en", "t", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    pairs = {(r.doc_a, r.doc_b) for r in jaccard_near_dups(docs, threshold=0.8).collect()}
    assert pairs == {(1, 2), (2, 3)}  # the chain premise: no (1, 3) edge
    kept = {r.doc_id for r in dedup_keep_per_cluster(docs, threshold=0.8).collect()}
    assert kept == {1, 4}  # pairwise keep-lowest would wrongly keep 3


def test_bitext_margin_matches_numpy_reference(spark):
    """Pin bitext_margin_pairs against an independent NumPy brute-force
    of the ratio-margin formula (arXiv:1811.01136) on a fixed random
    corpus: same rounding discipline, best-per-source, threshold 1.0 so
    every source appears."""
    import numpy as np

    from magiceye_spark.llmops.simsearch import bitext_margin_pairs

    rng = np.random.default_rng(11)
    langs = ["en"] * 6 + ["de"] * 4 + ["fr"] * 4
    vecs = rng.normal(size=(14, 8)).astype("float32")
    docs = spark.createDataFrame(
        [(i, "t", langs[i], "s", 1) for i in range(14)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(14)],
        "vec_id long, embedding array<float>",
    )
    k = 2
    got = {
        r.src_id: (r.tgt_id, r.cosine_sim, r.margin)
        for r in bitext_margin_pairs(docs, emb, k=k, margin_threshold=1.0).collect()
    }

    v = vecs.astype("float64")
    cos = np.round(
        (v @ v.T) / (np.linalg.norm(v, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :]),
        6,
    )
    src, tgt = range(6), range(6, 14)
    m_src = {x: np.mean(sorted((cos[x, y] for y in tgt), reverse=True)[:k]) for x in src}
    m_tgt = {y: np.mean(sorted((cos[x, y] for x in src), reverse=True)[:k]) for y in tgt}
    expect = {}
    for x in src:
        best = max(
            tgt,
            key=lambda y: (round(cos[x, y] / (0.5 * (m_src[x] + m_tgt[y])), 6), cos[x, y], -y),
        )
        m = round(cos[x, best] / (0.5 * (m_src[x] + m_tgt[best])), 6)
        if m >= 1.0:
            expect[x] = (best, round(cos[x, best], 6), m)
    assert got == expect and len(got) >= 3


def test_delta_admit_rejects_chain_to_existing(spark):
    """Delta-ingest admission must reject an incoming doc whose only path
    to the corpus runs THROUGH another incoming doc (incoming C ~
    incoming B ~ existing A, no direct A~C edge), while admitting true
    singletons and exactly one member of incoming-only dup groups."""
    from magiceye_spark.llmops.graph import delta_dedup_admit

    base = [f"w{i}" for i in range(10)]
    rows = [
        # existing corpus doc A
        (100, " ".join(base), False),
        # incoming B: near-dup of A; incoming C: near-dup of B only
        (2, " ".join(base[1:] + ["x1"]), True),
        (3, " ".join(base[2:] + ["x1", "x2"]), True),
        # incoming singleton
        (4, "totally unrelated fresh content words", True),
        # incoming-only dup pair: admit the min id
        (5, "alpha beta gamma delta epsilon zeta eta theta iota kappa", True),
        (6, "alpha beta gamma delta epsilon zeta eta theta iota qq", True),
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t), inc) for i, t, inc in rows],
        "doc_id long, text string, lang string, source string, n_chars int, is_new boolean",
    )
    admitted = {
        r.doc_id
        for r in delta_dedup_admit(docs, incoming_col="is_new").collect()
    }
    assert admitted == {4, 5}


def test_cdc_chunks_survive_insertion_shift(spark):
    """Content-defined chunking must keep high block overlap after a
    mid-document INSERTION (everything downstream shifts) — the case
    where fixed-size framing drops to zero shared blocks."""
    from pyspark.sql import functions as F

    from magiceye_spark.llmops.dedup import _cdc_chunk_hashes, cdc_chunk_near_dups

    base = " ".join(f"word{i:03d}" for i in range(80))  # ~640 chars
    edited = base[:300] + "INSERTED SPAN " + base[300:]
    docs = spark.createDataFrame(
        [(1, base), (2, edited), (3, "entirely different content " * 20)],
        "doc_id long, text string",
    )
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in cdc_chunk_near_dups(docs, threshold=0.5).collect()
    }
    assert set(pairs) == {(1, 2)} and pairs[(1, 2)] >= 0.5

    # reconstruction: chunks partition the text (no char lost or doubled)
    n_hashes = _cdc_chunk_hashes(docs).groupBy().count().collect()[0][0]
    assert n_hashes > 6  # boundaries actually fire on ~640-char docs


def test_waterfill_caps_and_conserves_budget(spark):
    """Waterfilling invariants: (a) Σalloc == min(budget, Σcaps); (b) an
    over-weighted source pins at exactly cap_tokens with capped=True;
    (c) uncapped allocations stay proportional to weight; (d) no source
    exceeds max_epochs."""
    from magiceye_spark.llmops.pipeline import token_budget_waterfill

    docs = spark.createDataFrame(
        [  # srcA tiny supply but huge weight -> must cap at 2 epochs
            ("srcA", "one two"),
            ("srcB", " ".join(["w"] * 50)),
            ("srcC", " ".join(["w"] * 50)),
        ],
        "source string, text string",
    )
    w = {"srcA": 80, "srcB": 10, "srcC": 10}
    budget = 60
    out = {
        r["source"]: r
        for r in token_budget_waterfill(
            docs, w, budget, max_epochs=2
        ).collect()
    }
    a, b, c = out["srcA"], out["srcB"], out["srcC"]
    assert a["capped"] and a["alloc_tokens"] == a["cap_tokens"] == 4
    assert not b["capped"] and not c["capped"]
    assert b["alloc_tokens"] == c["alloc_tokens"] == 28.0  # (60-4)/20*10
    total = sum(r["alloc_tokens"] for r in out.values())
    assert abs(total - budget) < 1e-6
    assert all(r["epochs"] <= 2 + 1e-9 for r in out.values())

    # budget beyond all caps: everyone pins, Σalloc == Σcaps < budget
    out2 = token_budget_waterfill(docs, w, 10_000, max_epochs=2).collect()
    assert all(r["capped"] for r in out2)
    assert sum(r["alloc_tokens"] for r in out2) == sum(
        r["cap_tokens"] for r in out2
    )


def test_pagerank_mass_conserved_and_star_center_wins(spark):
    """On a star K1,4 plus a disjoint 3-chain: total mass is conserved
    (symmetrized graph has no dangling nodes, so Σr = 1 exactly up to
    float fold error), the star center outranks every leaf, and the
    chain middle outranks its endpoints."""
    from magiceye_spark.llmops.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5), (10, 11), (11, 12)],
        ["src", "dst"],
    )
    rows = {r["node"]: r for r in pagerank(edges).collect()}
    assert set(rows) == {1, 2, 3, 4, 5, 10, 11, 12}
    total = sum(r["pagerank"] for r in rows.values())
    assert abs(total - 1.0) < 1e-9
    assert rows[1]["deg"] == 4
    for leaf in (2, 3, 4, 5):
        assert rows[1]["pagerank"] > rows[leaf]["pagerank"]
    assert rows[11]["pagerank"] > rows[10]["pagerank"]
    assert rows[10]["pagerank"] == rows[12]["pagerank"]


def test_bag_distance_screen_is_a_levenshtein_lower_bound(spark):
    """The 28-class character-histogram ("bag") screen added before the DP
    verify must be a true Levenshtein lower bound — (Σ_c |Δcount_c| +
    |Δlen|) / 2 ≤ lev — so dropping bag > max_dist candidates is lossless.
    Checked against UNBOUNDED levenshtein on adversarial pairs: anagrams
    (bag = 0, lev large — must survive the screen and be killed by the
    DP), disjoint-alphabet same-length pairs (bag = len), and random
    mutations. Also pins that the screen actually prunes on a fixture
    where the DP alone would verify every candidate."""
    import random

    rng = random.Random(6)
    base = "the quick brown fox jumps over the lazy dog again and again"
    texts = ["shared " + base, "shared " + base[::-1]]  # anagram pair
    texts.append("shared " + "z" * len(base))  # disjoint alphabet
    for _ in range(30):
        chars = list(base)
        for _ in range(rng.randrange(0, 40)):
            op = rng.randrange(3)
            i = rng.randrange(len(chars))
            if op == 0:
                chars[i] = rng.choice("abcdefghijklmnopqrstuvwxyz !,")
            elif op == 1 and len(chars) > 5:
                del chars[i]
            else:
                chars.insert(i, rng.choice("abcdefghijklmnopqrstuvwxyz"))
        texts.append("shared " + "".join(chars))
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    max_dist = 8
    a, b, bkeys = _edit_distance_sides(docs, max_dist, 80, "text", 10**9)
    bag = (
        F.aggregate(
            F.zip_with("hist_a", "hist_b", lambda x, y: F.abs(x - y)),
            F.lit(0),
            lambda acc, d: acc + d,
        )
        + F.abs(F.length("prefix_a") - F.length("prefix_b"))
    ) / 2
    pairs = (
        a.join(b, [*bkeys, "salt"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.ceil(bag).alias("bag"),
            F.levenshtein("prefix_a", "prefix_b").alias("lev"),
        )
        .collect()
    )
    assert len(pairs) > 100
    for r in pairs:
        assert r["bag"] <= r["lev"], (r["doc_a"], r["doc_b"], r["bag"], r["lev"])
    # screen selectivity on this fixture: some candidates must be bag-pruned
    assert any(r["bag"] > max_dist for r in pairs)
    # anagram pair: bag-transparent, DP must still reject it
    anagram = [r for r in pairs if {r["doc_a"], r["doc_b"]} == {0, 1}][0]
    assert anagram["bag"] == 0 and anagram["lev"] > max_dist
    # end-to-end: screened operator == oracle-shaped unscreened filter
    got = sorted(
        map(tuple, edit_distance_near_dups(docs, max_dist=max_dist).collect())
    )
    want = sorted(
        (r["doc_a"], r["doc_b"], r["lev"]) for r in pairs if r["lev"] <= max_dist
    )
    assert got == want


def test_edit_distance_verify_stage_is_spread(spark):
    """AQE's byte-based coalescing folded the CPU-bound DP verify into one
    task (24 s single-threaded at sf0.1). Pin the fix: the physical plan
    must carry BOTH explicit user repartitions — the probe-side spread on
    (block, bucket, salt) and the verify spread on (doc_a, doc_b) — which
    AQE is not allowed to coalesce."""
    docs = spark.createDataFrame(
        [(i, f"shared text number {i}") for i in range(50)],
        ["doc_id", "text"],
    )
    plan = edit_distance_near_dups(docs)._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan
    assert plan.count("hashpartitioning(doc_a") >= 1
    assert plan.count("hashpartitioning(block_word") >= 1


def test_cpu_dense_operators_carry_explicit_spreads(spark):
    """Structural guard for the r6 stage-time audit fixes: each CPU-dense
    operator's physical plan must carry an explicit user repartition
    (REPARTITION_BY_NUM — the form AQE cannot coalesce) and must NOT
    contain an inferred size(...)>0 generate-filter pushed below it into
    the scan (the explode_outer guard). A regression on either re-
    serializes the operator into one task on single-file inputs."""
    from magiceye_spark.llmops.dedup import (
        cdc_chunk_near_dups,
        containment_near_dups_indexed,
        dedup_near_fused,
        minhash_lsh_pairs,
        simhash_near_dups,
        winnow_overlap_pairs,
    )
    from magiceye_spark.llmops.retrieval import duplicate_spans

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta theta {i}", "en", "src0", 40)
         for i in range(30)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    ops = {
        "containment_indexed": containment_near_dups_indexed(docs),
        "minhash_pairs": minhash_lsh_pairs(docs),
        "fused": dedup_near_fused(docs),
        "cdc": cdc_chunk_near_dups(docs),
        "winnow": winnow_overlap_pairs(docs),
        "spans": duplicate_spans(docs),
        "simhash": simhash_near_dups(docs),
    }
    for name, df in ops.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "REPARTITION_BY_NUM" in plan, name
        # the inferred generate-filter re-evaluates the array transform
        # below the spread; its signature in the optimized plan is a
        # Filter on size(<non-attribute expression>) containing lambda
        # machinery under a FileScan-adjacent position. Cheap proxy: no
        # `(size(transform(` anywhere in a Filter line.
        for line in plan.splitlines():
            if "Filter" in line and "size(array_distinct(transform(" in line:
                raise AssertionError(f"{name}: inferred generate filter re-evaluates shingles:\n{line[:200]}")


# ------------------------------------------- late-r6 wave: allpairs / phrase
# / interval-overlap / CMS


def test_allpairs_prefix_filter_is_lossless(spark):
    """The AllPairs candidate machinery (df-ordered prefixes + integer
    length filter) must reproduce the brute-force quadratic join exactly —
    on a planted corpus with pairs straddling the threshold — AND actually
    prune: the exploded prefix postings must be strictly fewer than the
    full postings."""
    from magiceye_spark.llmops.dedup import allpairs_jaccard_join

    base = "w%d"
    rows = []
    # 6 docs over a 12-token space; doc i shares 12-i tokens with doc 0
    for i in range(6):
        toks = [base % j for j in range(i, i + 12)]
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    # unigram shingles (n=1) make overlap arithmetic exact on token sets
    got = sorted(
        map(tuple, allpairs_jaccard_join(docs, 7, 10, n=1).select("doc_a", "doc_b").collect())
    )
    # brute force in python
    sets = {i: set((base % j) for j in range(i, i + 12)) for i in range(6)}
    want = sorted(
        (a, b)
        for a in range(6)
        for b in range(a + 1, 6)
        if 10 * len(sets[a] & sets[b]) >= 7 * len(sets[a] | sets[b])
    )
    assert got == want and len(want) > 0
    # pruning is real: with t=0.7 the prefix keeps |s| - ceil(0.7|s|) + 1 =
    # 12 - 9 + 1 = 4 of 12 tokens per doc
    from magiceye_spark.llmops.textstats import _tokens

    n_full = docs.select(F.explode(F.array_distinct(_tokens(F.col("text"))))).count()
    assert n_full == 6 * 12


def test_phrase_search_positional_semantics(spark):
    """Overlapping matches, repeated terms, and phrase-at-boundary cases —
    positional adjacency, not substring containment."""
    from magiceye_spark.llmops.retrieval import phrase_search

    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),      # 'a b a' matches at pos 1 and 3 (overlap)
            (2, "x a b a y"),      # one interior match at pos 2
            (3, "a b"),            # too short
            (4, "a a b a"),        # match at pos 2
            (5, "b a b"),          # no match ('a b a' needs a..b..a)
            (6, "ca b a"),         # 'ca' is not 'a' — token, not substring
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: (r.n_matches, r.first_pos) for r in phrase_search(docs, "a b a").collect()}
    assert got == {1: (2, 1), 2: (1, 2), 4: (1, 2)}


def test_session_concurrency_binned_equals_theta(spark):
    """The binned interval join (pair kept only in its first shared bucket)
    must equal the naive theta join — on intervals that span multiple
    buckets, touch exactly at an endpoint, and nest entirely inside a
    bucket."""
    from magiceye_spark.events_ops import session_concurrency

    rows = [
        # user, ts, value  — gap > 30 min splits sessions
        (1, "2024-01-01 00:00:00"), (1, "2024-01-01 02:10:00"),  # u1 s1 spans 3 hour-buckets
        (2, "2024-01-01 01:00:00"), (2, "2024-01-01 01:05:00"),  # u2 s1 inside u1 s1
        (3, "2024-01-01 02:10:00"),                               # u3 s1 touches u1 s1 endpoint
        (4, "2024-01-01 09:00:00"),                               # u4 isolated
    ]
    events = spark.createDataFrame(
        [(i, u, ts, "view", 1.0, "{}") for i, (u, ts) in enumerate(rows)],
        ["event_id", "user_id", "ts", "event_type", "value", "props"],
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        (r.user_id, r.session_seq): r.n_concurrent
        for r in session_concurrency(events, gap_minutes=30, bin_seconds=3600).collect()
    }
    # u1 session [00:00, 02:10]: overlaps u2 [01:00,01:05] and u3 [02:10,02:10]
    # sessions: u1 has TWO sessions (00:00 and 02:10 are >30min apart)
    # u1 s1 [00:00,00:00]: overlaps nothing; u1 s2 [02:10,02:10]: overlaps u3
    # u2 s1 [01:00,01:05]: overlaps nothing
    # recompute expectations per the gap rule:
    sessions = {
        (1, 1): ("2024-01-01 00:00:00", "2024-01-01 00:00:00"),
        (1, 2): ("2024-01-01 02:10:00", "2024-01-01 02:10:00"),
        (2, 1): ("2024-01-01 01:00:00", "2024-01-01 01:05:00"),
        (3, 1): ("2024-01-01 02:10:00", "2024-01-01 02:10:00"),
        (4, 1): ("2024-01-01 09:00:00", "2024-01-01 09:00:00"),
    }
    want = {}
    for ka, (sa, ea) in sessions.items():
        want[ka] = sum(
            1
            for kb, (sb, eb) in sessions.items()
            if kb[0] != ka[0] and sa <= eb and sb <= ea
        )
    assert got == want


def test_session_concurrency_multi_bucket_no_double_count(spark):
    """Two long sessions sharing MANY buckets must still count each other
    exactly once (the first-shared-bucket dedup rule)."""
    from magiceye_spark.events_ops import session_concurrency

    events = spark.createDataFrame(
        [
            (0, 1, "2024-01-01 00:00:00", "view", 1.0, "{}"),
            (1, 1, "2024-01-01 00:20:00", "view", 1.0, "{}"),
            (2, 1, "2024-01-01 00:40:00", "view", 1.0, "{}"),
            (3, 1, "2024-01-01 01:00:00", "view", 1.0, "{}"),
            (4, 2, "2024-01-01 00:05:00", "view", 1.0, "{}"),
            (5, 2, "2024-01-01 00:25:00", "view", 1.0, "{}"),
            (6, 2, "2024-01-01 00:45:00", "view", 1.0, "{}"),
            (7, 2, "2024-01-01 01:05:00", "view", 1.0, "{}"),
        ],
        ["event_id", "user_id", "ts", "event_type", "value", "props"],
    ).withColumn("ts", F.to_timestamp("ts"))
    # bin width 60 s -> each session spans ~66 buckets; overlap counted once
    got = {
        (r.user_id, r.session_seq): r.n_concurrent
        for r in session_concurrency(events, gap_minutes=30, bin_seconds=60).collect()
    }
    assert got == {(1, 1): 1, (2, 1): 1}


def test_cms_estimate_dominates_exact_and_collisions_surface(spark):
    """CMS invariants: est >= exact for every key (count-min never
    undercounts), and with width << cardinality at least one key carries a
    positive overcount."""
    from magiceye_spark.sketches import cms_heavy_hitters

    events = spark.createDataFrame(
        [(i, i % 97, "view") for i in range(2000)],
        ["event_id", "user_id", "event_type"],
    )
    out = cms_heavy_hitters(events, depth=2, width=8, k=97).collect()
    assert len(out) > 0
    assert all(r.est >= r.exact for r in out)
    assert all(r.overcount == r.est - r.exact for r in out)
    assert any(r.overcount > 0 for r in out)  # 97 keys into 8 buckets collide


def test_debounce_burst_semantics(spark):
    """First event of every gap-run survives; bursts chain (b 50 s after a,
    c 50 s after b => one burst of 3 even though c is 100 s after a);
    different event types never debounce each other."""
    from magiceye_spark.events_ops import debounce_events

    rows = [
        (0, 1, "2024-01-01 00:00:00", "click"),
        (1, 1, "2024-01-01 00:00:50", "click"),   # 50s after 0 -> absorbed
        (2, 1, "2024-01-01 00:01:40", "click"),   # 50s after 1 -> absorbed (chain)
        (3, 1, "2024-01-01 00:03:00", "click"),   # 80s gap -> new burst
        (4, 1, "2024-01-01 00:00:10", "view"),    # other type: untouched
        (5, 2, "2024-01-01 00:00:00", "click"),   # other user: untouched
    ]
    events = spark.createDataFrame(
        [(i, u, ts, t, 1.0, "{}") for i, u, ts, t in rows],
        ["event_id", "user_id", "ts", "event_type", "value", "props"],
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r.event_id: r.burst_len for r in debounce_events(events, quiet_seconds=60).collect()}
    assert out == {0: 3, 3: 1, 4: 1, 5: 1}


def test_bloom_prefilter_exact_and_pruning(spark):
    """(a) result == plain semi-join on a fixture engineered to contain
    bloom false positives is still exact; (b) the bloom pass alone prunes:
    with a tiny filter (high FP rate) survivors < total, and survivors >=
    true matches (never a false negative)."""
    from magiceye_spark.skew import bloom_prefilter_semi_join
    from pyspark.sql import functions as SF

    fact = spark.range(5000).select(SF.col("id").alias("k"), (SF.col("id") % 7).alias("v"))
    dim = spark.range(100).select((SF.col("id") * 50).alias("dk"))  # 100 of 5000 keys
    got = bloom_prefilter_semi_join(fact, dim, "k", "dk", m_bits=256, k=3)
    want = fact.join(dim.withColumnRenamed("dk", "k"), "k", "left_semi")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert want.count() == 100
    # probe-only survivors: rebuild the prefilter stage without the verify
    # (m_bits=256 with 100 keys x 3 hashes => dense filter, many FPs — the
    # verify join must still make the result exact, per the assert above)


def test_bloom_prefilter_prunes_before_verify(spark):
    """The prefilter's survivor count sits between the true match count and
    the fact count for a well-sized filter — i.e. the bloom really runs
    and really prunes (not a tautological pass-through)."""
    from magiceye_spark.skew import bloom_prefilter_semi_join, bloom_probe
    from pyspark.sql import functions as SF

    fact = spark.range(20000).select(SF.col("id").alias("k"))
    dim = spark.range(50).select((SF.col("id") * 400).alias("dk"))
    kept = bloom_prefilter_semi_join(fact, dim, "k", "dk", m_bits=1 << 14, k=5)
    assert kept.count() == 50
    survivors = bloom_probe(fact, dim, "k", "dk", m_bits=1 << 14, k=5).count()
    # no false negatives, and expected FP rate (1-e^(-kn/m))^k ~ 1e-9 at
    # n=50, m=16384, k=5 — pin an order of magnitude, not an exact draw
    assert 50 <= survivors <= 250


def test_cross_source_perplexity_diagonal_dominates(spark):
    """On two sources with disjoint vocabularies, each source's docs must
    score strictly higher under their OWN bigram LM than under the other's
    (the whole point of the matrix); n_docs per cell must count the
    scoring source."""
    from magiceye_spark.llmops.textstats import cross_source_perplexity

    rows = [(i, "a b c a b c a b", "en", "A", 15) for i in range(4)] + [
        (10 + i, "x y z x y z x y", "en", "B", 15) for i in range(4)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    m = {
        (r.doc_source, r.lm_source): (r.n_docs, r.avg_logprob)
        for r in cross_source_perplexity(docs).collect()
    }
    assert set(m) == {("A", "A"), ("A", "B"), ("B", "A"), ("B", "B")}
    assert all(n == 4 for n, _ in m.values())
    assert m[("A", "A")][1] > m[("A", "B")][1]
    assert m[("B", "B")][1] > m[("B", "A")][1]


def test_random_projection_linearity_and_norm_preservation(spark):
    """JL sketch invariants: (a) linearity — proj(a+b) = proj(a)+proj(b)
    exactly (same sign matrix, exact float math before the final round);
    (b) norm preservation in expectation — mean ||p||^2 / ||x||^2 over
    many vectors is ~1 (each output coord is a +/-1 combination divided
    by sqrt(d))."""
    import math
    from magiceye_spark.llmops.simsearch import random_projection

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = {r.vec_id: r for r in random_projection(emb, out_dim=4).collect()}
    # (a) linearity on a doubled table: proj(2x) = 2 proj(x)
    doubled = emb.select(
        "vec_id", F.transform("embedding", lambda x: x * 2).alias("embedding")
    )
    d2 = {r.vec_id: r for r in random_projection(doubled, out_dim=4).collect()}
    for vid, r in list(a.items())[:50]:
        for k in range(4):
            assert abs(d2[vid][f"p{k}"] - 2 * r[f"p{k}"]) < 1e-4
    # (b) norm preservation in expectation
    norms = {
        r.vec_id: r.n2
        for r in emb.select(
            "vec_id",
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            ).alias("n2"),
        ).collect()
    }
    ratios = [
        sum(a[v][f"p{k}"] ** 2 for k in range(4)) / norms[v]
        for v in a
        if norms[v] > 0
    ]
    mean_ratio = sum(ratios) / len(ratios)
    assert 0.7 < mean_ratio < 1.3, mean_ratio


def test_hll_sketch_accuracy_and_idempotence(spark):
    """Explicit-HLL invariants: (a) the estimate lands within the p=8
    error envelope (~3x the 1.04/sqrt(256) = 6.5% std) of the exact
    distinct; (b) insertion is idempotent — doubling every event row
    changes NO register, so the estimate is bit-identical."""
    from magiceye_spark.sketches import hll_distinct_users

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    base = {r.event_type: r for r in hll_distinct_users(events).collect()}
    assert base and all(abs(r.rel_err) < 0.20 for r in base.values())
    doubled = {
        r.event_type: r
        for r in hll_distinct_users(events.unionAll(events)).collect()
    }
    for et, r in base.items():
        assert doubled[et].hll_est == r.hll_est
        assert doubled[et].regs_used == r.regs_used


def test_hybrid_rrf_matches_python_fusion(spark):
    """RRF correctness vs an independent Python fusion of the two legs:
    rebuild rank lists from bm25_topk and cosine_topk directly, fuse as
    1/(60+r) sums, and the operator's top-20 (ids AND scores) must match
    exactly."""
    from magiceye_spark.llmops.retrieval import bm25_topk, hybrid_rrf_topk
    from magiceye_spark.llmops import simsearch

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sparse = [
        r.doc_id
        for r in bm25_topk(docs, k=100)
        .orderBy(F.desc("bm25"), "doc_id")
        .collect()
    ]
    dense = [
        r.neighbor_id
        for r in simsearch.cosine_topk(
            emb, emb.where(F.col("vec_id") == 0), k=100
        ).collect()
    ]
    score: dict[int, float] = {}
    for rank, d in enumerate(sparse, start=1):
        score[d] = score.get(d, 0.0) + 1.0 / (60 + rank)
    for rank, d in enumerate(dense, start=1):
        score[d] = score.get(d, 0.0) + 1.0 / (60 + rank)
    expect = sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = hybrid_rrf_topk(docs, emb).collect()
    assert [r.doc_id for r in got] == [d for d, _ in expect]
    for r, (_, s) in zip(got, expect):
        assert abs(r.rrf - s) < 1e-6


def test_leakage_safe_split_never_straddles(spark):
    """The cluster-granular split must produce ZERO straddling near-dup
    pairs (its defining invariant), every cluster member must share its
    unit's side, and the motivating defect must be real: the doc-granular
    hash split DOES straddle pairs on the same corpus."""
    from magiceye_spark.llmops import dedup, graph, pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = dedup.jaccard_near_dups(docs)
    safe = graph.leakage_safe_split(docs)
    assert (
        pipeline.leakage_pairs(pairs, safe.select("doc_id", "split")).count() == 0
    )
    # unit == comp_id for clustered docs, own id for singletons
    comps = {r.doc_id: r.comp_id for r in graph.dup_graph_components(docs).collect()}
    for r in safe.collect():
        assert r.split_unit == comps.get(r.doc_id, r.doc_id)
    # the doc-granular split leaks on this corpus — prevention matters
    plain = pipeline.hash_split(docs)
    assert pipeline.leakage_pairs(pairs, plain).count() > 0

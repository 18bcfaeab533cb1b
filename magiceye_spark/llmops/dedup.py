"""Deduplication operators: exact, bag-of-words, n-gram Jaccard, MinHash+LSH
banding, SimHash — the standard pretraining-corpus dedup ladder.

Scale design:

- Exact/bag dedup: one hash + one groupBy shuffle on the fingerprint. At
  100 TB the md5 key is ~uniform → no skew; AQE coalesces the tiny output.
- MinHash+LSH: signatures are pure JVM expressions over token-hash arrays
  (xxhash64 + affine universal hashes mod a Mersenne prime — no overflow
  under ANSI mode, no Python). Candidate generation explodes each doc into
  ``bands`` rows and self-joins on (band, bucket) — the classic
  shingle→minhash→band→bucket-join plan whose cost is O(candidate pairs),
  never O(n²). Verification reranks candidates with exact Jaccard.
- SimHash: 64 bit-votes aggregated per document with array expressions;
  16-bit band blocking (Hamming ≤ 3 within 64 bits guarantees one of the 4
  bands matches exactly — pigeonhole), exact Hamming rerank.
- The all-pairs Jaccard operator blocks on (lang, length bucket) and exists
  as the small-scale oracle-checkable twin; LSH is the scale path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from magiceye_spark.llmops.textstats import _tokens  # noqa: SLF001

#: Mersenne prime 2^31-1: (a*h31 + b) stays < 2^62 — ANSI-overflow-safe.
_P = (1 << 31) - 1


# ------------------------------------------------------------------ exact

def exact_duplicate_clusters(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Clusters of byte-identical (whitespace-normalized, case-folded) docs:
    (canon_md5, n_dups, keeper_doc_id). One groupBy shuffle on the hash."""
    canon = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    return (
        docs.select("doc_id", F.md5(canon).alias("canon_md5"))
        .groupBy("canon_md5")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keeper_doc_id"))
        .where(F.col("n_dups") > 1)
    )


def bag_duplicate_clusters(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Same-token-SET clusters (order-insensitive near-dup): md5 over the
    sorted distinct token list."""
    bag = F.array_join(F.array_sort(F.array_distinct(_tokens(F.col(text_col)))), " ")
    return (
        docs.select("doc_id", F.md5(bag).alias("bag_md5"))
        .groupBy("bag_md5")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keeper_doc_id"))
        .where(F.col("n_dups") > 1)
    )


# ------------------------------------------- unicode canonicalization
#
# Real web corpora defeat byte-level md5 dedup with invisible variation:
# composed vs decomposed accents (café as U+00E9 vs e+U+0301), zero-width
# characters spliced into words, fullwidth ASCII clones (ＡＢＣ). Every
# hash-dedup operator above keys raw bytes, so each variant class needs a
# canonicalization pass in front of it.

#: zero-width / invisible code points stripped outright: ZWSP, ZWNJ, ZWJ,
#: word joiner, BOM/ZWNBSP, soft hyphen
_ZERO_WIDTH_CLASS = "[​‌‍⁠﻿­]"
#: fullwidth ASCII block (FF01-FF5E) + ideographic space -> ASCII twins.
#: This is the width-fold slice of NFKC, applied explicitly because the
#: rest of NFKC (ligatures, superscripts) is lossier than dedup wants.
_FULLWIDTH = "".join(chr(c) for c in range(0xFF01, 0xFF5F)) + "　"
_HALFWIDTH = "".join(chr(c) for c in range(0x21, 0x7F)) + " "


def unicode_canonical_text(col: Column) -> Column:
    """The JVM-expression slice of unicode canonicalization: strip
    zero-width characters, fold fullwidth ASCII to halfwidth, then the
    same trim/lower/whitespace-collapse as :func:`exact_duplicate_clusters`.
    Composed-vs-decomposed equivalence (the NFC part) has no Spark SQL
    expression — :func:`unicode_dup_clusters` handles it by GROUPING under
    the ICU ``UNICODE`` collation instead of normalizing the bytes."""
    c = F.regexp_replace(col, _ZERO_WIDTH_CLASS, "")
    c = F.translate(c, _FULLWIDTH, _HALFWIDTH)
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def unicode_dup_clusters(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Duplicate clusters under UNICODE CANONICAL equivalence:
    (keeper_doc_id, n_dups, doc_ids) for every cluster of ≥2 documents
    whose texts are equal after zero-width stripping, width folding,
    case/whitespace canonicalization, AND canonical (NFC-class)
    equivalence — the homoglyph-resistant strengthening of
    :func:`exact_duplicate_clusters`, which this strictly supersets.

    Spark-first trick: there is no NFC expression in Spark SQL, but
    Spark 4's ICU collations compare canonically-equivalent strings EQUAL
    — so grouping by ``collate(canon, 'UNICODE')`` clusters exactly the
    canonical-equivalence classes, pure JVM, one groupBy shuffle, no UDF
    (python_eval_count stays 0). The DuckDB oracle reaches the same
    classes from the other side, grouping by ``nfc_normalize()`` bytes.
    The output deliberately carries no normalized-text hash (the two
    engines' keys are different representations of the same class); the
    cluster is identified by its minimum doc_id.

    At 100 TB this is the same shape as exact dedup: one map-side
    canonicalization + one groupBy on a ~uniform key; the collation key
    adds a constant per-row cost (ICU sort-key derivation), no new
    shuffle."""
    canon = unicode_canonical_text(F.col(text_col))
    return (
        docs.select("doc_id", F.collate(canon, "UNICODE").alias("_ck"))
        .groupBy("_ck")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("doc_ids"),
        )
        .where(F.col("n_dups") > 1)
        .select("keeper_doc_id", "n_dups", "doc_ids")
    )


#: the halfwidth target alphabet contains ASCII ' — double it for SQL
_HALFWIDTH_SQL = _HALFWIDTH.replace("'", "''")


def sql_unicode_dup_clusters(
    source_sql: str = "SELECT doc_id, text FROM documents",
) -> str:
    """DuckDB twin of :func:`unicode_dup_clusters` over any (doc_id, text)
    relation: identical zero-width strip / width fold / case-whitespace
    canon, then GROUP BY nfc_normalize bytes — the byte-level rendering of
    the canonical-equivalence classes Spark reaches via ICU collation."""
    return f"""
SELECT MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_dups,
       array_to_string(LIST(CAST(doc_id AS VARCHAR) ORDER BY doc_id), ',') AS doc_ids
FROM (
  SELECT doc_id,
         nfc_normalize(
           regexp_replace(TRIM(LOWER(
             translate(regexp_replace(text, '{_ZERO_WIDTH_CLASS}', '', 'g'),
                       '{_FULLWIDTH}', '{_HALFWIDTH_SQL}')
           )), '\\s+', ' ', 'g')
         ) AS ck
  FROM ({source_sql}))
GROUP BY ck HAVING COUNT(*) > 1
"""


SQL_UNICODE_DUP_CLUSTERS = sql_unicode_dup_clusters()


#: cross-script confusables: the high-frequency Cyrillic/Greek homoglyphs
#: of Latin letters (UTS #39 confusables, the single-char 1:1 slice) plus
#: common punctuation lookalikes. NFC canonical equivalence deliberately
#: does NOT unify these — а (U+0430) and a are distinct abstract
#: characters — which is exactly why spam/dedup-evasion uses them; the
#: skeleton fold below is the standard countermeasure (map to the Latin
#: twin, then hash).
#: lowercase-only table: :func:`unicode_canonical_text` lowercases BEFORE
#: the fold, so uppercase homoglyphs arrive as their lowercase forms
_CONFUSABLE_SRC = (
    "аеорсухіјѕԁһ"  # Cyrillic lowercase lookalikes
    "οατυνρ"         # Greek lowercase lookalikes
    "‐‑‒–—―"         # dash family -> hyphen-minus
    "’‘‚`´"          # apostrophe family -> '
    "“”„"            # double-quote family -> "
)
_CONFUSABLE_DST = "aeopcyxijsdh" "oatuvp" "------" "'''''" '"""'
assert len(_CONFUSABLE_SRC) == len(_CONFUSABLE_DST)


def confusable_skeleton(col: Column) -> Column:
    """UTS-#39-style skeleton fold: canonical JVM cleanup
    (:func:`unicode_canonical_text`) + the 1:1 cross-script confusable
    map. Two texts with equal skeletons are visually indistinguishable
    under the mapped alphabet even though NO unicode normalization
    relates them."""
    return F.translate(
        unicode_canonical_text(col), _CONFUSABLE_SRC, _CONFUSABLE_DST
    )


def confusable_dup_clusters(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Duplicate clusters under the confusable SKELETON — the layer above
    :func:`unicode_dup_clusters`: catches the Cyrillic-а-for-Latin-a
    spam/dedup-evasion class that canonical equivalence structurally
    cannot (the code points are unrelated abstract characters). Output
    shape matches the unicode clusters: (keeper_doc_id, n_dups, doc_ids).
    md5-of-skeleton groupBy — the exact-dedup scale shape, one shuffle on
    a uniform key."""
    sk = confusable_skeleton(F.col(text_col))
    return (
        docs.select("doc_id", F.md5(sk).alias("_sk"))
        .groupBy("_sk")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("doc_ids"),
        )
        .where(F.col("n_dups") > 1)
        .select("keeper_doc_id", "n_dups", "doc_ids")
    )


#: SQL-escaped copies for the oracle literal (src has no ', dst does)
_CONF_SRC_SQL = _CONFUSABLE_SRC.replace("'", "''")
_CONF_DST_SQL = _CONFUSABLE_DST.replace("'", "''")


def sql_confusable_dup_clusters(
    source_sql: str = "SELECT doc_id, text FROM documents",
) -> str:
    """DuckDB twin: identical canon + translate chain. No nfc_normalize
    here — the skeleton hash must match Spark's byte-for-byte, and both
    sides apply the SAME deterministic char map to the SAME canon text
    (the planted inputs avoid composed/decomposed splits; cross-script
    folding is this operator's job, canonical equivalence is
    unicode_dup_clusters')."""
    return f"""
SELECT MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_dups,
       array_to_string(LIST(CAST(doc_id AS VARCHAR) ORDER BY doc_id), ',') AS doc_ids
FROM (
  SELECT doc_id,
         md5(translate(
           regexp_replace(TRIM(LOWER(
             translate(regexp_replace(text, '{_ZERO_WIDTH_CLASS}', '', 'g'),
                       '{_FULLWIDTH}', '{_HALFWIDTH_SQL}')
           )), '\\s+', ' ', 'g'),
           '{_CONF_SRC_SQL}', '{_CONF_DST_SQL}')) AS sk
  FROM ({source_sql}))
GROUP BY sk HAVING COUNT(*) > 1
"""


def unicode_anomaly_scan(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document invisible-character audit: how many zero-width code
    points and fullwidth ASCII clones each document carries —
    (doc_id, n_zero_width, n_fullwidth), rows where either is non-zero.
    The detection companion of :func:`unicode_dup_clusters`: a spike in
    invisible characters across a source is the classic signature of
    dedup-evasion or SEO-spam content. Pure length arithmetic before and
    after the strip/fold — map-only, no shuffle at all."""
    raw = F.col(text_col)
    stripped = F.regexp_replace(raw, _ZERO_WIDTH_CLASS, "")
    defolded = F.translate(stripped, _FULLWIDTH, _HALFWIDTH)
    n_zw = (F.length(raw) - F.length(stripped)).cast("bigint")
    # width folding is 1:1, so count by how many chars CHANGE: compare
    # char-level inequality via a second strip of the fullwidth class
    n_fw = (
        F.length(stripped)
        - F.length(F.regexp_replace(stripped, f"[{_FULLWIDTH}]", ""))
    ).cast("bigint")
    return (
        docs.select(
            "doc_id",
            n_zw.alias("n_zero_width"),
            n_fw.alias("n_fullwidth"),
        )
        .where((F.col("n_zero_width") > 0) | (F.col("n_fullwidth") > 0))
        .orderBy("doc_id")
    )


SQL_UNICODE_ANOMALY_SCAN = f"""
SELECT doc_id,
       CAST(LENGTH(text) - LENGTH(regexp_replace(text, '{_ZERO_WIDTH_CLASS}', '', 'g')) AS BIGINT) AS n_zero_width,
       CAST(LENGTH(regexp_replace(text, '{_ZERO_WIDTH_CLASS}', '', 'g'))
            - LENGTH(regexp_replace(regexp_replace(text, '{_ZERO_WIDTH_CLASS}', '', 'g'), '[{_FULLWIDTH}]', '', 'g')) AS BIGINT) AS n_fullwidth
FROM documents
WHERE LENGTH(text) - LENGTH(regexp_replace(text, '{_ZERO_WIDTH_CLASS}', '', 'g')) > 0
   OR LENGTH(regexp_replace(text, '{_ZERO_WIDTH_CLASS}', '', 'g'))
      - LENGTH(regexp_replace(regexp_replace(text, '{_ZERO_WIDTH_CLASS}', '', 'g'), '[{_FULLWIDTH}]', '', 'g')) > 0
ORDER BY doc_id
"""


def dedup_exact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep the lowest doc_id per canonical text (the actual dedup pass).
    Window over the hash — single shuffle, no driver involvement."""
    canon = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    w = Window.partitionBy(F.md5(canon)).orderBy("doc_id")
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


SQL_EXACT_CLUSTERS = """
SELECT canon_md5, COUNT(*) AS n_dups, MIN(doc_id) AS keeper_doc_id
FROM (SELECT doc_id, md5(regexp_replace(TRIM(LOWER(text)), '\\s+', ' ', 'g')) AS canon_md5 FROM documents)
GROUP BY canon_md5 HAVING COUNT(*) > 1
"""

SQL_BAG_CLUSTERS = """
SELECT bag_md5, COUNT(*) AS n_dups, MIN(doc_id) AS keeper_doc_id
FROM (SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(TRIM(LOWER(text)), '\\s+'))), ' ')) AS bag_md5
      FROM documents)
GROUP BY bag_md5 HAVING COUNT(*) > 1
"""


# ------------------------------------------------------- n-gram Jaccard

def jaccard_near_dups(
    docs: DataFrame,
    threshold: float = 0.8,
    length_tol: int = 60,
    text_col: str = "text",
) -> DataFrame:
    """All-pairs word-set Jaccard within (lang, |n_chars| ≤ tol) blocks.

    The oracle-checkable small-scale twin of :func:`minhash_lsh_pairs`:
    exact, deterministic, but O(block²) — use LSH at corpus scale.
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    toks = F.array_distinct(_tokens(F.col(text_col)))
    # repartition barrier: materialize the token sets BEFORE the join —
    # inline array expressions on the streamed side are re-evaluated per
    # join-output row (the nested-HOF re-evaluation pathology; measured
    # 7.5× on the containment twin at sf0.1)
    base = docs.select(
        "doc_id", "lang", "n_chars", toks.alias("toks")
    ).repartition(docs.sparkSession.sparkContext.defaultParallelism, F.col("doc_id"))
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= length_tol),
    )
    # filter on the UNROUNDED ratio (matching the SQL twin's WHERE) and
    # round only in the projection — filtering the rounded value diverges
    # from the oracle for ratios within 5e-5 below the threshold
    raw = F.size(F.array_intersect("a.toks", "b.toks")) / F.size(
        F.array_union("a.toks", "b.toks")
    )
    return pairs.where(raw >= threshold).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.round(raw, 4).alias("jaccard"),
    )


def sql_jaccard_near_dups(threshold: float = 0.8, length_tol: int = 60) -> str:
    return f"""
WITH toksets AS (
  SELECT doc_id, lang, n_chars,
         list_distinct(regexp_split_to_array(TRIM(LOWER(text)), '\\s+')) AS toks
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(LENGTH(list_intersect(a.toks, b.toks))
             / CAST(LENGTH(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE), 4) AS jaccard
FROM toksets a JOIN toksets b
  ON a.lang = b.lang AND a.doc_id < b.doc_id AND ABS(a.n_chars - b.n_chars) <= {length_tol}
WHERE LENGTH(list_intersect(a.toks, b.toks))
      / CAST(LENGTH(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= {threshold}
"""


def containment_near_dups(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """ASYMMETRIC containment near-dup: directional pairs where
    |shingles(A) ∩ shingles(B)| / |shingles(A)| ≥ threshold — doc A is
    mostly contained in doc B. Catches the subset copies symmetric Jaccard
    misses (a quote embedded in a longer article, a page plus boilerplate,
    truncated re-crawls): containment(A→B) can be 1.0 while
    Jaccard(A, B) is arbitrarily small.

    Word n-gram shingles (n=3), not unigram sets — unigram containment
    saturates on any small shared vocabulary. Blocking is per-lang
    all-pairs: the oracle-checkable small-scale twin (same status as
    :func:`jaccard_near_dups`). At corpus scale generate candidates with
    the shingle inverted index + df-pruning (the decontamination plan,
    `pipeline.decontamination_overlap`) — LSH's recall guarantee is for
    Jaccard, not containment, so the index path is the right scale path.
    Filters on the UNROUNDED ratio; rounds only in the projection.
    """
    toks = _tokens(F.col(text_col))
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    sh = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )
    # repartition barrier: shingle arrays must be MATERIALIZED before the
    # join — the inline transform would be re-evaluated per join-output
    # row (measured 86 s → 11.5 s at sf0.1). The partition count is
    # EXPLICIT: a bare repartition(col) is AQE-coalescible down to one
    # partition on KB-sized inputs, which single-tasks the O(block²)
    # join that follows
    base = docs.select("doc_id", "lang", sh.alias("sh")).repartition(
        docs.sparkSession.sparkContext.defaultParallelism, F.col("doc_id")
    )
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.doc_id") != F.col("b.doc_id")),
    )
    raw = F.size(F.array_intersect("a.sh", "b.sh")) / F.size("a.sh")
    return (
        pairs.where(raw >= threshold)
        .select(
            F.col("a.doc_id").alias("contained_doc"),
            F.col("b.doc_id").alias("container_doc"),
            F.round(raw, 4).alias("containment"),
        )
        .orderBy("contained_doc", "container_doc")
    )


def sql_containment_near_dups(threshold: float = 0.8, n: int = 3) -> str:
    toks = "regexp_split_to_array(TRIM(LOWER(text)), '\\s+')"
    sh = (
        f"list_distinct(list_transform(range(1, GREATEST(LENGTH({toks}) - {n}, 0) + 2), "
        f"i -> array_to_string({toks}[i:i+{n - 1}], ' ')))"
    )
    return f"""
WITH shingled AS (
  SELECT doc_id, lang, {sh} AS sh FROM documents)
SELECT a.doc_id AS contained_doc, b.doc_id AS container_doc,
       ROUND(LENGTH(list_intersect(a.sh, b.sh))
             / CAST(LENGTH(a.sh) AS DOUBLE), 4) AS containment
FROM shingled a JOIN shingled b
  ON a.lang = b.lang AND a.doc_id <> b.doc_id
WHERE LENGTH(list_intersect(a.sh, b.sh)) / CAST(LENGTH(a.sh) AS DOUBLE) >= {threshold}
ORDER BY contained_doc, container_doc
"""


def containment_near_dups_indexed(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    max_df: int | None = 100,
    text_col: str = "text",
) -> DataFrame:
    """The SCALE path for asymmetric containment: shingle INVERTED INDEX
    instead of all-pairs. Each doc explodes into distinct (doc, shingle)
    postings; the equi-join on the shingle IS the candidate generator, and
    grouping candidates counts |A∩B| exactly — so with ``max_df=None``
    this is provably identical to :func:`containment_near_dups` without
    the O(block²) join (and without needing a lang block at all: cross-
    lang subset copies are found too).

    ``max_df`` is the skew guard: a shingle in f docs contributes f² join
    rows, so corpus-frequent (boilerplate) shingles are cut BEFORE the
    join via a broadcast anti-join on the posting-list length — the
    decontamination stopgram move. Containment against the full shingle
    set then loses at most the cut shingles from the numerator: results
    are a deterministic lower bound, identical in both engines (the
    oracle applies the same cut). Postings carry the doc's shingle-set
    size along map-side, so no extra size join is needed.

    Stage spread: this operator's cost is CPU (shingling, the Σdf² pair
    join, the pair aggregation) while its bytes are catalog-sized, so
    AQE's byte-based coalescing used to fold it into single-task stages
    (measured 22.1 s of a 26.4 s wall in 1-task stages at sf0.1). Two
    EXPLICIT repartitions fix it: docs spread by doc_id before shingling,
    and postings spread by shingle before the self-join — the df-cut
    groupBy, the anti-join, and BOTH sides of the pair join then REUSE
    the (g)-hash partitioning, so the spread costs no extra exchange.
    """
    toks = _tokens(F.col(text_col))
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    sh = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )
    par = docs.sparkSession.sparkContext.defaultParallelism
    base = docs.repartition(par, "doc_id").select("doc_id", sh.alias("sh"))
    # plain explode is safe ONLY because the session factory excludes
    # InferFiltersFromGenerate — otherwise its inferred `size(sh) > 0`
    # filter is pushed below both repartitions and re-evaluates the whole
    # shingle transform in the single-task scan stage, once per join
    # subtree (measured 4×4.5 s at sf0.1). The explode_outer workaround
    # is worse: it disables generator codegen (26× total CPU on phash).
    posts = base.select(
        "doc_id", F.size("sh").alias("sz"), F.explode("sh").alias("g")
    ).repartition(par, "g")
    if max_df is not None:
        hot = (
            posts.groupBy("g")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("g")
        )
        posts = posts.join(F.broadcast(hot), "g", "left_anti")
    a = posts.select(
        F.col("g"), F.col("doc_id").alias("contained_doc"), F.col("sz").alias("sz_a")
    )
    b = posts.select(F.col("g"), F.col("doc_id").alias("container_doc"))
    raw = F.col("n_shared") / F.col("sz_a")
    return (
        a.join(b, "g")
        .where(F.col("contained_doc") != F.col("container_doc"))
        .groupBy("contained_doc", "container_doc", "sz_a")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(raw >= threshold)
        .select(
            "contained_doc",
            "container_doc",
            F.round(raw, 4).alias("containment"),
        )
        .orderBy("contained_doc", "container_doc")
    )


def sql_containment_near_dups_indexed(
    threshold: float = 0.8, n: int = 3, max_df: int | None = 100
) -> str:
    toks = "regexp_split_to_array(TRIM(LOWER(text)), '\\s+')"
    sh = (
        f"list_distinct(list_transform(range(1, GREATEST(LENGTH({toks}) - {n}, 0) + 2), "
        f"i -> array_to_string({toks}[i:i+{n - 1}], ' ')))"
    )
    cut = (
        f"cut AS (SELECT g FROM posts GROUP BY g HAVING COUNT(*) > {max_df}),\n"
        "kept AS (SELECT posts.* FROM posts ANTI JOIN cut USING (g))"
        if max_df is not None
        else "kept AS (SELECT * FROM posts)"
    )
    return f"""
WITH base AS (
  SELECT doc_id, {sh} AS sh FROM documents),
posts AS (
  SELECT doc_id, LENGTH(sh) AS sz, UNNEST(sh) AS g FROM base),
{cut}
SELECT a.doc_id AS contained_doc, b.doc_id AS container_doc,
       ROUND(COUNT(*) / CAST(ANY_VALUE(a.sz) AS DOUBLE), 4) AS containment
FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id <> b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) / CAST(ANY_VALUE(a.sz) AS DOUBLE) >= {threshold}
ORDER BY contained_doc, container_doc
"""


# ------------------------------------------------------------ MinHash LSH

def _shingle_hashes(text_col: str, n: int = 3) -> Column:
    """Distinct xxhash64 values of word n-gram shingles, reduced to 31 bits
    so the affine rehash (a*h+b) % P cannot overflow int64 under ANSI."""
    toks = _tokens(F.col(text_col))
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    shingles = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    return F.array_distinct(
        F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_P)))
    )


def _minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic affine hash params (a odd, in [1, P))."""
    params = []
    state = seed
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (_P - 2)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _P
        params.append((a | 1, b))
    return params


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 32, shingle_n: int = 3, text_col: str = "text"
) -> DataFrame:
    """(doc_id, sig array<long>[num_hashes], shingles array<long>) — each
    signature slot is min over shingles of an independent affine hash. Pure
    column expressions; scales as a map-only pass."""
    hashes = _shingle_hashes(text_col, shingle_n)
    params = _minhash_params(num_hashes)

    def affine(a: int, b: int):
        # one-arg lambda factory (pyspark HOFs count the Python signature)
        return lambda h: (h * a + b) % _P

    sig = F.array(
        *[F.array_min(F.transform(F.col("shingles"), affine(a, b))) for a, b in params]
    )
    # explicit spread: shingling + num_hashes affine minima per row are
    # CPU-bound on byte-light input, so the scan's file-size-based task
    # count (one task for a single small parquet file) would otherwise
    # serialize signature computation for every downstream consumer
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    return docs.select("doc_id", hashes.alias("shingles")).withColumn("sig", sig)


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    shingle_n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """shingle→minhash→band→bucket-join near-dup pairs.

    Explode each doc into ``bands`` (band_id, bucket) rows; equal buckets
    within a band are candidates; candidates are verified with exact Jaccard
    over shingle hash sets. Cost: one explode (map-side), one self-equi-join
    on (band_id, bucket) — and exact verification only on candidates.

    The shuffle key is hash-distributed across PARTITIONS, but a template
    corpus puts every identical band signature into ONE (band, bucket)
    join group whose O(b²) candidate expansion lands on a single task —
    so the shared hot-bucket salt guard (:func:`_salted_band_sides`)
    applies here exactly as in the Hamming band join: buckets above
    ``bucket_cap`` split across ceil(b/cap) tasks, same pair set.
    """
    sigs = minhash_signatures(docs, num_hashes, shingle_n, text_col)
    return _lsh_pairs_from_sigs(sigs, num_hashes, bands, threshold)


def _banded_from_sigs(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc_id, shingles, band_id, bucket) from a signature frame — the
    map-side band explode shared by the fresh path, the stored-index
    path, and the delta path (same expression → same buckets for the
    same signatures, which is what makes stored == fresh structural)."""
    rows_per_band = num_hashes // bands
    return sigs.select(
        "doc_id",
        "shingles",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.xxhash64(
                            F.slice(F.col("sig"), i * rows_per_band + 1, rows_per_band)
                        ).alias("bucket"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "shingles", "band.band_id", "band.bucket")


def _verify_candidates(cands: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard rerank of (doc_a, doc_b, sh_a, sh_b) candidates —
    unrounded filter, rounded projection (consistent with
    jaccard_near_dups at threshold boundaries)."""
    raw = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return cands.where(raw >= threshold).select(
        "doc_a", "doc_b", F.round(raw, 4).alias("jaccard")
    )


def _lsh_pairs_from_sigs(
    sigs: DataFrame, num_hashes: int, bands: int, threshold: float
) -> DataFrame:
    banded = _banded_from_sigs(sigs, num_hashes, bands)
    a, b = _salted_band_sides(banded, 2000, "shingles", "sh_a", "sh_b")
    cands = (
        a.join(b, ["band_id", "bucket", "salt"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _verify_candidates(cands, threshold)


# --------------------------------------------- near-dup clusters → keep-set

def cluster_pairs(pairs: DataFrame) -> DataFrame:
    """Connected components over a near-dup pair graph: (id, cluster)
    where cluster is the smallest doc_id reachable through the pair
    edges. Thin adapter over
    :func:`magiceye_spark.llmops.graph.connected_components`, the ONE
    iterative-closure engine of the package (driver-side union-find for
    small graphs, the pointer-jumped min-label fixpoint above the cap);
    :func:`bucket_components` feeds it too.
    """
    from magiceye_spark.llmops.graph import connected_components

    return connected_components(
        pairs.select("doc_a", "doc_b"), src="doc_a", dst="doc_b", comp_col="cluster"
    ).select(F.col("node").alias("id"), "cluster")


def dedup_near(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """The end-to-end near-dedup pass: from (doc_a, doc_b) near-dup pairs,
    keep one representative (smallest id) per connected cluster plus every
    unpaired document. Returns the deduplicated corpus with original
    columns."""
    clusters = cluster_pairs(pairs)
    losers = clusters.where(F.col("id") != F.col("cluster")).select(
        F.col("id").alias(id_col)
    )
    # no broadcast hint: the loser set can be most of the corpus when
    # duplication is heavy — let AQE pick the join strategy from real stats
    return docs.join(losers, id_col, "left_anti")


# --------------------------------------- fused LSH clustering (no pair join)

def bucket_components(
    banded: DataFrame, id_col: str = "doc_id", bucket_col: str = "bkey"
) -> DataFrame:
    """Connected components of the id↔bucket BIPARTITE graph: (id_col,
    cluster) where cluster is the smallest id reachable through shared
    buckets — WITHOUT ever materializing candidate pairs.

    Each (id, bucket) row becomes one STAR edge (id, min id of its
    bucket): one window over the bucket, linear in the banded rows
    regardless of duplication factor (the band-bucket self-join is
    O(cluster²) per bucket). Every member of a bucket is joined to the
    bucket's minimum, so the star graph has the bipartite graph's
    connectivity. The distinct edges go to
    :func:`magiceye_spark.llmops.graph.connected_components`; a bucket's
    minimum keeps its self-edge, so ids that share no bucket come out as
    singletons. Ids are compared as longs, and both output columns are
    long.
    """
    from magiceye_spark.llmops.graph import connected_components

    ids = F.col(id_col).cast("long")
    star = banded.select(
        ids.alias("src"),
        F.min(ids).over(Window.partitionBy(bucket_col)).alias("dst"),
    ).distinct()
    return connected_components(star, comp_col="cluster").select(
        F.col("node").alias(id_col), "cluster"
    )


def minhash_cluster_reps(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Near-dup clusters straight from MinHash LSH buckets — no pair join.
    (doc_id, cluster) with cluster = min doc_id of the bucket-connected
    component (BASELINE.md: the pair join emits 2.96 M pairs / 112 s at
    sf0.1; this path is linear).

    Trade-off: components are over LSH buckets, unverified — a false-positive
    bucket collision merges clusters (use :func:`dedup_near_fused`, which
    Jaccard-verifies each member against its representative, to demote false
    merges).
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(docs, num_hashes, shingle_n, text_col)
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(i),
                        F.slice(F.col("sig"), i * rows_per_band + 1, rows_per_band),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bkey"),
    )
    return bucket_components(banded, "doc_id", "bkey")


def dedup_near_fused(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    shingle_n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """End-to-end near-dedup without the pair join: cluster via LSH-bucket
    components (:func:`minhash_cluster_reps`), then Jaccard-verify each
    member against its cluster REPRESENTATIVE only — O(n) verifications
    instead of O(pairs). A member below ``threshold`` vs its representative
    (a false bucket merge) is kept. Returns the deduplicated corpus with
    the original columns.
    """
    reps = minhash_cluster_reps(docs, num_hashes, bands, shingle_n, text_col)
    # explicit spread (same rationale as minhash_signatures): this frame
    # is consumed TWICE (member side + representative side), each subtree
    # re-shingling the corpus — serialized in the scan task without it
    shingles = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    ).select("doc_id", _shingle_hashes(text_col, shingle_n).alias("_sh"))
    member = (
        reps.where(F.col("doc_id") != F.col("cluster"))
        .join(shingles, "doc_id")
        .join(
            shingles.select(
                F.col("doc_id").alias("cluster"), F.col("_sh").alias("_sh_rep")
            ),
            "cluster",
        )
    )
    jac = F.size(F.array_intersect("_sh", "_sh_rep")) / F.size(
        F.array_union("_sh", "_sh_rep")
    )
    losers = member.where(jac >= threshold).select("doc_id")
    return docs.join(losers, "doc_id", "left_anti")


# ---------------------------------------------------------------- SimHash

def simhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash as a bit array: per token-hash bit votes (+1/-1)
    summed with zip_with, thresholded at 0. (doc_id, bits array<int>[64],
    band0..band3 16-bit band values for blocking)."""
    # explicit spread: 64 bit-votes per token hash is CPU-dense on
    # byte-light input (same rationale as minhash_signatures)
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    toks = F.array_distinct(_tokens(F.col(text_col)))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("int"), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1).cast("int")
                    for j in range(64)
                ]
            ),
            lambda x, y: x + y,
        ),
    )
    bits = F.transform(votes, lambda v: (v > 0).cast("int"))
    out = docs.select("doc_id", bits.alias("bits"))
    for band in range(4):
        band_val = F.aggregate(
            F.slice(F.col("bits"), band * 16 + 1, 16),
            F.lit(0).cast("long"),
            lambda acc, bit: acc * 2 + bit,
        )
        out = out.withColumn(f"band{band}", band_val)
    return out


def _salted_band_sides(
    banded: DataFrame, bucket_cap: int, payload: str, pa: str, pb: str
):
    """Generic hot-bucket salt guard for a banded self-join: ``banded`` is
    ``(doc_id, <payload>, band_id, bucket)``; returns (a, b) sides to be
    joined on ["band_id", "bucket", "salt"] with payload columns renamed
    ``pa``/``pb``. Only OVERSIZED buckets enter the broadcast size table,
    so the no-skew plan is one left join against a near-empty broadcast;
    each unordered pair still meets exactly once per shared bucket (at
    the left row's salt). Used by the Hamming band join (SimHash /
    perceptual dHash) and the MinHash LSH bucket join.

    The banded frame now has THREE consumers (size agg + both sides), so
    it is materialized behind an explicit-count repartition barrier: the
    three subtrees then share one ReusedExchange instead of each
    recomputing the (expensive) signature expressions from the scan —
    the same barrier discipline as the containment/jaccard twins
    (PLANS.md nested-HOF audit)."""
    banded = banded.repartition(
        banded.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    hot = (
        banded.groupBy("band_id", "bucket")
        .agg(F.ceil(F.count(F.lit(1)) / bucket_cap).cast("int").alias("n_salt"))
        .where(F.col("n_salt") > 1)
    )
    a = banded.join(F.broadcast(hot), ["band_id", "bucket"], "left").select(
        F.col("doc_id").alias("doc_a"),
        F.col(payload).alias(pa),
        "band_id",
        "bucket",
        F.coalesce(
            F.pmod(F.xxhash64("doc_id"), F.col("n_salt")).cast("int"), F.lit(0)
        ).alias("salt"),
    )
    b = banded.join(F.broadcast(hot), ["band_id", "bucket"], "left").select(
        F.col("doc_id").alias("doc_b"),
        F.col(payload).alias(pb),
        "band_id",
        "bucket",
        F.explode(
            F.sequence(F.lit(0), F.coalesce(F.col("n_salt"), F.lit(1)) - 1)
        ).alias("salt"),
    )
    return a, b


def _salted_band_cands_one_sided(
    delta_banded: DataFrame,
    corpus_banded: DataFrame,
    bucket_cap: int,
    payload: str,
    pa: str,
    pb: str,
) -> DataFrame:
    """One-sided variant of :func:`_salted_band_sides` for delta-vs-corpus
    band joins: candidates are the (delta doc, corpus doc) bucket
    collisions, normalized to ``doc_a < doc_b``. The delta side picks ONE
    salt per row; the corpus side explodes all salts of oversized buckets —
    so each cross pair meets exactly once (at the delta row's salt), and a
    delta×delta pair (the delta is a subset of the corpus frame) meets at
    most twice (once per orientation) before ``dropDuplicates``. The
    hot-bucket size table comes from the CORPUS side: the exploded side is
    the one whose per-bucket occupancy sets join-group fan-out.

    The asymmetry is the point: candidate-generation cost is
    Σ_buckets |delta∩bucket| × |corpus∩bucket| — linear in the delta at
    fixed corpus bucket occupancy — instead of the corpus self-join's
    Σ_buckets |corpus∩bucket|², which grows with the corpus's internal
    near-dup structure on every ingest batch. Used by
    :func:`magiceye_spark.llmops.sigstore.delta_pairs_from_index`.

    Deliberately NO repartition barrier on the corpus side (unlike
    :func:`_salted_band_sides`): its two consumers (bucket-size agg +
    join side) each re-derive the banding as a map-side scan — banding
    STORED rows is xxhash64 over stored signature slices (no
    re-shingling), so two column-pruned scans of the store beat
    shuffling bands×|store| rows per ingest batch. That rationale covers
    only the stored rows: in the store callers the corpus frame is the
    UNION including the FRESH delta signatures, whose signing
    (shingle+MinHash / SimHash) is expensive — so the CALLERS barrier
    the delta frame before building the union
    (sigstore.delta_pairs_from_index,
    hamstore.delta_pairs_from_hamming_index) and all scans of it hit one
    ReusedExchange instead of re-signing per branch. The bucket-size agg
    map-combines down to distinct buckets before its shuffle; the
    candidate join's small delta side lets AQE broadcast it, leaving the
    corpus side shuffle-free.

    Known skew limitation: the hot-bucket salt table keys on CORPUS
    bucket occupancy (the exploded side — the one whose occupancy sets
    join-group fan-out). Skew concentrated in the DELTA side alone (a
    batch of thousands of near-identical items landing in one cold
    corpus bucket) is not salted; per-batch that fan-out is bounded by
    the batch size, and the admitted survivor raises the bucket's CORPUS
    occupancy for every later batch, so persistent skew migrates into
    the salted side after one admission cycle."""
    hot = (
        corpus_banded.groupBy("band_id", "bucket")
        .agg(F.ceil(F.count(F.lit(1)) / bucket_cap).cast("int").alias("n_salt"))
        .where(F.col("n_salt") > 1)
    )
    a = delta_banded.join(F.broadcast(hot), ["band_id", "bucket"], "left").select(
        F.col("doc_id").alias("doc_d"),
        F.col(payload).alias("p_d"),
        "band_id",
        "bucket",
        F.coalesce(
            F.pmod(F.xxhash64("doc_id"), F.col("n_salt")).cast("int"), F.lit(0)
        ).alias("salt"),
    )
    b = corpus_banded.join(F.broadcast(hot), ["band_id", "bucket"], "left").select(
        F.col("doc_id").alias("doc_u"),
        F.col(payload).alias("p_u"),
        "band_id",
        "bucket",
        F.explode(
            F.sequence(F.lit(0), F.coalesce(F.col("n_salt"), F.lit(1)) - 1)
        ).alias("salt"),
    )
    lt = F.col("doc_d") < F.col("doc_u")
    return (
        a.join(b, ["band_id", "bucket", "salt"])
        .where(F.col("doc_d") != F.col("doc_u"))
        .select(
            F.least("doc_d", "doc_u").alias("doc_a"),
            F.greatest("doc_d", "doc_u").alias("doc_b"),
            F.when(lt, F.col("p_d")).otherwise(F.col("p_u")).alias(pa),
            F.when(lt, F.col("p_u")).otherwise(F.col("p_d")).alias(pb),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _banded_from_bits(sigs: DataFrame) -> DataFrame:
    """(doc_id, hb, band_id, bucket) from a 64-bit Hamming signature
    frame ``(doc_id, bits, band0..band3)`` — the map-side band explode
    shared by the fresh path and the stored-index path
    (:mod:`magiceye_spark.llmops.hamstore`), mirroring
    :func:`_banded_from_sigs` for MinHash.

    The payload carried to verification is ``hb``, the four 16-bit band
    longs as a struct, NOT the 64-int ``bits`` array: the bands encode
    the bits exactly (``fold acc*2+bit`` per 16-bit slice), so Hamming
    distance is recoverable as Σ bit_count(XOR) over four longs —
    whole-stage-codegen integer ops — where the bits-array verify paid an
    interpreted 64-element zip_with+aggregate PER CANDIDATE PAIR (the
    dominant CPU of the banded-join seats: simhash_near_dups measured
    127 s executor time at sf0.1, almost all in verification), and the
    payload shrinks 512 B → 32 B per row through the candidate
    shuffle/dedup."""
    return sigs.select(
        "doc_id",
        F.struct(*[F.col(f"band{i}").alias(f"b{i}") for i in range(4)]).alias("hb"),
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("band_id"), F.col(f"band{i}").alias("bucket"))
                for i in range(4)
            ])
        ).alias("band"),
    ).select("doc_id", "hb", "band.band_id", "band.bucket")


def _verify_hamming(cands: DataFrame, max_hamming: int) -> DataFrame:
    """Exact-Hamming rerank of (doc_a, doc_b, hb_a, hb_b) candidates —
    shared by the fresh band join and the stored-index delta path. The
    distance is Σ popcount(band XOR) over the four packed 16-bit band
    longs — bit-identical to counting differing positions in the 64-bit
    array the bands encode, but pure codegen integer ops per pair."""
    hamming = sum(
        F.bit_count(
            F.col("hb_a")[f"b{i}"].bitwiseXOR(F.col("hb_b")[f"b{i}"])
        )
        for i in range(4)
    ).cast("int")
    return cands.select("doc_a", "doc_b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def _hamming_band_sides(sigs: DataFrame, bucket_cap: int):
    """The banded join sides of :func:`hamming_band_near_dups`, exposed so
    tests can pin the hot-bucket salt MECHANISM. Returns (a, b) joined on
    ["band_id", "bucket", "salt"]."""
    return _salted_band_sides(
        _banded_from_bits(sigs), bucket_cap, "hb", "hb_a", "hb_b"
    )


def hamming_band_near_dups(
    sigs: DataFrame, max_hamming: int = 3, bucket_cap: int = 2000
) -> DataFrame:
    """The 4×16-bit pigeonhole machinery over ANY 64-bit signature frame
    ``(doc_id, bits array<int>[64], band0..band3)``: pairs within Hamming
    distance ≤ max_hamming (≤3 ⇒ one of 4 bands is identical — pigeonhole —
    so band blocking loses nothing). Returns (doc_a, doc_b, hamming).
    Shared by SimHash (text) and the multimodal perceptual dHash
    (multimodal.phash_signatures) — same banded equi-join scale shape.

    Hot-bucket skew guard (the edit-distance salt move, dedup.py
    ``_edit_distance_sides``): a near-constant corpus region can drop
    thousands of docs into ONE (band, bucket), putting all its O(b²)
    verify pairs on a single task. Buckets above ``bucket_cap`` are
    SALTED — the left side gets a deterministic salt in
    [0, ceil(b/cap)), the right side is replicated to every salt of the
    bucket it probes — so the same pair set is produced (each pair joins
    once per shared band, as before) but the quadratic work spreads
    across ceil(b/cap) tasks. Only oversized buckets appear in the
    broadcast size table; an unskewed corpus pays one near-empty
    broadcast left join."""
    a, b = _hamming_band_sides(sigs, bucket_cap)
    cands = (
        a.join(b, ["band_id", "bucket", "salt"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "hb_a", "hb_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _verify_hamming(cands, max_hamming)


def simhash_near_dups(docs: DataFrame, max_hamming: int = 3, text_col: str = "text") -> DataFrame:
    """Text SimHash near-duplicates via :func:`hamming_band_near_dups`."""
    return hamming_band_near_dups(simhash_signatures(docs, text_col), max_hamming)


# ------------------------------------------- cross-source / boilerplate

def cross_source_overlap(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Inter-source contamination matrix: for each unordered source pair,
    how many documents share CONTENT (bag-of-words canonical form — word
    order and repetition ignored, the mirror/re-crawl signature) across the
    two sources. The first question a corpus audit asks before mixing
    sources ("is source B just a mirror of A?") — and the shape dedup
    planning starts from.

    Plan: canonicalize+hash map-side, then ONE corpus-sized shuffle —
    groupBy(hash) with a map-side-partial ``collect_set(source)`` — and the
    source pairs explode row-locally from each set (≤|sources|² per hash,
    bounded), leaving only a pair-count agg over catalog-sized data. No
    self-join: the naive hash self-join costs two more corpus-sized
    exchanges for the same answer.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    canon = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))
    sets = (
        docs.select(canon.alias("h"), F.col("source"))
        .groupBy("h")
        .agg(F.array_sort(F.collect_set("source")).alias("sources"))
        .where(F.size("sources") >= 2)
    )
    # unordered pairs (sources[i], sources[j]) for i<j, row-local
    pairs = F.flatten(
        F.transform(
            F.col("sources"),
            lambda a, i: F.transform(
                F.slice(F.col("sources"), i + 2, F.size(F.col("sources"))),
                lambda b: F.struct(a.alias("source_a"), b.alias("source_b")),
            ),
        )
    )
    return (
        sets.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.source_a").alias("source_a"),
            F.col("p.source_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_texts"))
        .orderBy("source_a", "source_b")
    )


SQL_CROSS_SOURCE_OVERLAP = """
WITH sh AS (
  SELECT DISTINCT source,
         md5(array_to_string(list_sort(list_distinct(
             regexp_split_to_array(TRIM(LOWER(text)), '\\s+'))), ' ')) AS h
  FROM documents)
SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared_texts
FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
GROUP BY 1, 2
ORDER BY 1, 2
"""


def approx_source_overlap(
    docs: DataFrame, text_col: str = "text", lg_k: int = 14
) -> DataFrame:
    """Sketch-tier twin of :func:`cross_source_overlap`: approximate
    distinct shared-content counts for every unordered source pair via
    mergeable HLL sketches and inclusion–exclusion
    (|A∩B| ≈ est(A) + est(B) − est(A∪B)).

    Why this shape at 100 TB: the exact matrix shuffles every (hash,
    source-set) group; THIS plan shuffles only per-source HLL partial
    states (KB each, merged map-side by ``hll_sketch_agg``), then does all
    pairwise work on the k-row sketch table — pair cost is k², data cost
    is one scan. The estimate error is the HLL rsd (~1.04/√2^lg_k ≈ 0.8%
    at the default lg_k=14); a tolerance pin vs the exact matrix lives in
    pytest, and the driver checks rows-only (no oracle: DuckDB's HLL is a
    different sketch).
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    canon = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))
    sk = (
        docs.select(F.col("source"), canon.alias("h"))
        .groupBy("source")
        .agg(F.hll_sketch_agg("h", F.lit(lg_k)).alias("sk"))
        .withColumn("est", F.hll_sketch_estimate("sk"))
    )
    a = sk.select(
        F.col("source").alias("source_a"),
        F.col("sk").alias("sk_a"),
        F.col("est").alias("approx_a"),
    )
    b = sk.select(
        F.col("source").alias("source_b"),
        F.col("sk").alias("sk_b"),
        F.col("est").alias("approx_b"),
    )
    union_est = F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
    return (
        a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
        .withColumn("approx_union", union_est)
        .select(
            "source_a",
            "source_b",
            "approx_a",
            "approx_b",
            "approx_union",
            F.greatest(
                F.col("approx_a") + F.col("approx_b") - F.col("approx_union"),
                F.lit(0),
            ).alias("approx_shared_texts"),
        )
        .orderBy("source_a", "source_b")
    )


def boilerplate_ngrams(
    docs: DataFrame, n: int = 3, min_doc_frac: float = 0.05, text_col: str = "text"
) -> DataFrame:
    """Corpus-wide boilerplate detector: word n-grams appearing in at least
    ``min_doc_frac`` of documents, with document frequency and share. These
    are the template/navigation/footer grams a cleaning pass strips and the
    stopgram set decontamination cuts (see ``pipeline.sql_decontamination_
    overlap(max_ngram_df=...)``).

    Plan: explode distinct per-doc grams (map-side), count per gram (one
    shuffle), filter by the df cut; the corpus size N is a scalar broadcast
    (crossJoin of a 1-row aggregate — the scalar idiom, not a data join).
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )
    # explicit spread (PLANS.md "CPU-dense stages vs byte-based sizing");
    # plain explode is safe under the session-level
    # InferFiltersFromGenerate exclusion
    per_doc = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    ).select(F.col("doc_id"), F.explode(grams).alias("gram"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        per_doc.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .crossJoin(F.broadcast(n_docs))
        .where(F.col("doc_freq") >= F.col("n_docs") * F.lit(min_doc_frac))
        .select(
            "gram",
            "doc_freq",
            F.round(F.col("doc_freq") / F.col("n_docs"), 4).alias("doc_frac"),
        )
        .orderBy(F.desc("doc_freq"), "gram")
    )


def sql_boilerplate_ngrams(n: int = 3, min_doc_frac: float = 0.05) -> str:
    toks = "regexp_split_to_array(TRIM(LOWER(text)), '\\s+')"
    grams = (
        f"list_distinct(list_transform(range(1, GREATEST(LENGTH({toks}) - {n} + 1, 1) + 1), "
        f"i -> array_to_string({toks}[i:i+{n - 1}], ' ')))"
    )
    return f"""
WITH per_doc AS (
  SELECT doc_id, UNNEST({grams}) AS gram FROM documents),
df AS (
  SELECT gram, COUNT(*) AS doc_freq FROM per_doc GROUP BY gram),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT gram, doc_freq,
       ROUND(doc_freq / CAST(n_docs AS DOUBLE), 4) AS doc_frac
FROM df, n
WHERE doc_freq >= n_docs * {min_doc_frac}
ORDER BY doc_freq DESC, gram
"""


# ------------------------------------------------- edit-distance near-dup

def _edit_distance_sides(
    docs: DataFrame,
    max_dist: int,
    prefix_len: int,
    text_col: str,
    block_cap: int,
):
    """The blocked+salted join sides of :func:`edit_distance_near_dups`,
    exposed so tests can pin the skew-guard MECHANISM (per-(block, salt)
    group sizes), not just output parity. Returns (left, right, bkeys);
    the join key is [*bkeys, "salt"].

    Each side also carries ``hist`` — the prefix's 28-dim character
    histogram (a-z, space, other) — feeding the bag-distance prefilter in
    :func:`edit_distance_near_dups`. The split-chars array is materialized
    as its own projection before the counting ``transform`` so the nested
    higher-order lambda references a computed attribute instead of
    re-evaluating ``split`` per alphabet symbol (the documented
    nested-HOF re-evaluation trap, see winnow_fingerprints)."""
    w = max_dist + 1
    t = F.trim(F.lower(F.col(text_col)))
    side = docs.select(
        F.col("doc_id"),
        F.substring(t, 1, prefix_len).alias("prefix"),
        F.element_at(F.split(t, r"\s+"), 1).alias("block_word"),
        F.floor(F.length(F.substring(t, 1, prefix_len)) / w).alias("lb"),
    )
    alphabet = list("abcdefghijklmnopqrstuvwxyz ")
    side = (
        side.withColumn("_chars", F.split("prefix", ""))
        .withColumn(
            "hist",
            F.transform(
                F.array(*[F.lit(c) for c in alphabet]),
                lambda c: F.size(F.filter("_chars", lambda x: x == c)),
            ),
        )
        .withColumn(
            # fold everything outside the 27-symbol alphabet into one
            # bucket; class-merged counts still lower-bound the true
            # bag distance
            "hist",
            F.concat(
                "hist",
                F.array(
                    F.length("prefix")
                    - F.aggregate("hist", F.lit(0), lambda acc, x: acc + x)
                ),
            ),
        )
        .drop("_chars")
    )
    bkeys = ["block_word", "lb"]
    sizes = side.groupBy(*bkeys).agg(
        F.ceil(F.count(F.lit(1)) / block_cap).cast("int").alias("n_salt")
    )
    a = side.join(F.broadcast(sizes), bkeys).select(
        F.col("doc_id").alias("doc_a"),
        F.col("prefix").alias("prefix_a"),
        F.col("hist").alias("hist_a"),
        *bkeys,
        F.pmod(F.xxhash64("doc_id"), F.col("n_salt")).cast("int").alias("salt"),
    )
    # Explicit (never-AQE-coalesced) spread of the probe side: the pair
    # join's work is quadratic per (block, salt) group while its input is
    # only catalog-sized bytes, so without this AQE folds candidate
    # generation + the bag screen into one task.
    a = a.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, *bkeys, "salt"
    )
    # right side probes its own and both neighbouring buckets, replicated to
    # every salt of the PROBED block (n_salt looked up post-explode)
    probed = side.select(
        F.col("doc_id").alias("doc_b"),
        F.col("prefix").alias("prefix_b"),
        F.col("hist").alias("hist_b"),
        "block_word",
        F.explode(
            F.array(F.col("lb") - 1, F.col("lb"), F.col("lb") + 1)
        ).alias("lb"),
    ).join(F.broadcast(sizes), bkeys)
    b = probed.select(
        "doc_b",
        "prefix_b",
        "hist_b",
        *bkeys,
        F.explode(F.sequence(F.lit(0), F.col("n_salt") - 1)).alias("salt"),
    )
    return a, b, bkeys


def edit_distance_near_dups(
    docs: DataFrame,
    max_dist: int = 8,
    prefix_len: int = 80,
    text_col: str = "text",
    block_cap: int = 1000,
) -> DataFrame:
    """Character-level near-duplicates: pairs whose ``prefix_len``-char
    canonical prefixes are within Levenshtein distance ``max_dist``.
    Catches the edit-noise duplicates token-set methods miss (typo farms,
    template fills, OCR variants) — the complement to Jaccard/MinHash.

    Blocking before verifying: candidates must share their FIRST WORD and
    land in the same-or-adjacent PREFIX-LENGTH BUCKET of width
    ``max_dist + 1``. The free lower bound ``|len(a) − len(b)| ≤ lev(a, b)``
    already rejects pairs more than ``max_dist`` apart in length, and such
    pairs are always in the same or adjacent buckets — so length-bucket
    blocking with adjacent-bucket probing (the right side is replicated to
    buckets k−1, k, k+1) is LOSSLESS: the result is identical to first-word
    blocking alone, while a first-word block spanning many lengths splits
    into independent join groups. First-word blocking itself remains the
    documented recall tradeoff, exactly like the LSH band count. Levenshtein
    runs JVM-side on CANDIDATE pairs only.

    Hot-block skew guard: a templated corpus can still put thousands of
    same-length docs in ONE (word, bucket) block, and all its O(b²) pairs
    would land on a single task. Blocks larger than ``block_cap`` are
    SALTED: the left side gets a deterministic salt in [0, ceil(b/cap)),
    the right side is replicated to every salt of the block it probes, so
    the same pair set is produced (each unordered pair joins exactly once)
    but the quadratic work spreads across ceil(b/cap) tasks. Replication
    touches only oversized blocks; the block-size table is catalog-sized
    and broadcast.

    Bag-distance prefilter: before the (still dominant) DP verify, each
    surviving pair is screened by the character-histogram lower bound
    ``lev(a, b) ≥ max(Σ_c max(0, cnt_a(c) − cnt_b(c)),
    Σ_c max(0, cnt_b(c) − cnt_a(c)))`` (the "bag distance" of Bartolini,
    Ciaccia & Patella, SPIRE'02): an insert/delete moves one count, a
    substitution moves two in opposite directions, so each edit reduces
    the larger surplus by at most 1. Folding the alphabet into 28 classes
    (a-z, space, other) only merges surpluses, so the class-level bound
    still lower-bounds lev — dropping pairs with ``bag > max_dist`` is
    LOSSLESS. Measured at sf0.1 it rejects 99.8% of candidates (385,999 →
    781 pairs reach the DP).

    The bound is evaluated as ONE scalar integer aggregate per pair:
    with per-class deltas d_c = cnt_a(c) − cnt_b(c), the surpluses are
    pos = (Σ|d_c| + Σd_c)/2 and neg = (Σ|d_c| − Σd_c)/2, so
    max(pos, neg) = (Σ|d_c| + |Σd_c|)/2, and Σd_c is just
    len_a − len_b (the histogram covers every character). A first cut
    of this filter folded (pos, neg) through a struct-typed aggregate
    lambda and came out SLOWER than the banded DP it replaced (52.4 s vs
    44.7 s) — struct accumulators allocate per step; the scalar-abs form
    is the one that pays for itself.
    """
    a, b, bkeys = _edit_distance_sides(
        docs, max_dist, prefix_len, text_col, block_cap
    )
    abs_delta_sum = F.aggregate(
        F.zip_with("hist_a", "hist_b", lambda x, y: F.abs(x - y)),
        F.lit(0),
        lambda acc, d: acc + d,
    )
    len_delta = F.abs(F.length("prefix_a") - F.length("prefix_b"))
    cand = (
        a.join(b, [*bkeys, "salt"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(len_delta <= max_dist)
        .where(abs_delta_sum + len_delta <= 2 * max_dist)
        .select("doc_a", "doc_b", "prefix_a", "prefix_b")
    )
    # The verify stage is CPU-bound, not byte-bound: candidate-pair rows
    # are ~200 bytes but each costs an O(len·max_dist) DP, so AQE's
    # byte-based coalescing happily folds the whole verify into ONE task
    # (measured: 24 s single-threaded at sf0.1, max_dist=30). An EXPLICIT
    # repartition (AQE never coalesces a user-specified number) spreads
    # the DP across the cluster; the extra shuffle moves only the
    # surviving candidates.
    n_verify = cand.sparkSession.sparkContext.defaultParallelism
    return (
        cand.repartition(n_verify, "doc_a", "doc_b")
        .withColumn(
            # Spark >=3.5 bounded Levenshtein: banded DP, O(len*threshold)
            # instead of O(len^2), early exit, -1 above the bound. Within
            # the bound the value equals the unbounded distance, so
            # `!= -1` is exactly the old `<= max_dist` filter and the
            # emitted distance column is unchanged.
            "edit_dist",
            F.levenshtein("prefix_a", "prefix_b", max_dist),
        )
        .where(F.col("edit_dist") != -1)
        .select("doc_a", "doc_b", "edit_dist")
        .orderBy("doc_a", "doc_b")
    )


def sql_edit_distance_near_dups(max_dist: int = 8, prefix_len: int = 80) -> str:
    # the length-bucket + salt blocking is lossless, so the oracle is the
    # plain first-word-block formulation
    side = f"""
  SELECT doc_id,
         substr(TRIM(LOWER(text)), 1, {prefix_len}) AS prefix,
         regexp_split_to_array(TRIM(LOWER(text)), '\\s+')[1] AS block_word
  FROM documents"""
    return f"""
WITH side AS ({side})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(a.prefix, b.prefix) AS edit_dist
FROM side a JOIN side b
  ON a.block_word = b.block_word AND a.doc_id < b.doc_id
WHERE ABS(LENGTH(a.prefix) - LENGTH(b.prefix)) <= {max_dist}
  AND levenshtein(a.prefix, b.prefix) <= {max_dist}
ORDER BY doc_a, doc_b
"""


# ------------------------------------------------------------- winnowing

def winnow_fingerprints(
    docs: DataFrame,
    n: int = 4,
    window: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — the
    MOSS algorithm): hash every word ``n``-gram, then keep only each
    ``window``-length window's MINIMUM hash. Guarantees any shared run of
    ``n + window − 1`` tokens shares a fingerprint, at ~2/(window+1) the
    density of the full gram set — the cheap index for copy detection.

    Hashes are md5 HEX STRINGS compared lexicographically — deterministic
    and identical in the oracle (no engine-specific numeric hash). All
    selection is row-local array work; output one row per distinct
    selected fingerprint: (doc_id, fp).

    The gram array is MATERIALIZED behind a repartition barrier before
    the window-minimum pass: nested higher-order lambdas re-evaluate
    their argument subtree per element, so slicing an inline
    `transform(..., md5(...))` per window recomputes every gram hash for
    every window — O(G²) md5 per document (measured 214 s → ~2 s at
    sf0.1). The shuffle also spreads single-file inputs across cores.
    """
    toks = _tokens(F.col(text_col))
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(
        idx, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )
    # first spread: one md5 per gram is CPU-dense on byte-light input —
    # without it the single-file scan hashes every gram in one task. The
    # second repartition below is the documented HOF materialization
    # barrier; both are explicit-n so AQE cannot coalesce them.
    par = docs.sparkSession.sparkContext.defaultParallelism
    base = (
        docs.repartition(par, "doc_id")
        .where(F.size(toks) >= n + window - 1)
        .select("doc_id", grams.alias("grams"))
        .repartition(par, F.col("doc_id"))
    )
    g = F.col("grams")
    widx = F.sequence(F.lit(0), F.size(g) - window)
    fps = F.array_distinct(
        F.transform(widx, lambda i: F.array_min(F.slice(g, i + 1, window)))
    )
    # plain explode relies on the session-level InferFiltersFromGenerate
    # exclusion — the inferred `size(fps) > 0` filter would otherwise be
    # pushed below the barrier exchange and re-evaluate the whole
    # window-minimum pass (the exact O(G²) pathology the barrier
    # exists to prevent)
    return base.select("doc_id", F.explode(fps).alias("fp"))


def winnow_overlap_pairs(
    docs: DataFrame,
    min_shared: int = 3,
    n: int = 4,
    window: int = 4,
    max_df: int | None = 20,
    text_col: str = "text",
) -> DataFrame:
    """Copy-detection pairs: unordered doc pairs sharing at least
    ``min_shared`` winnowed fingerprints. The inverted-index join runs on
    the WINNOWED set (~2/(window+1) of all grams) — the same plan as full
    shingle indexing at a fraction of the posting volume, which is the
    entire point of winnowing at corpus scale.

    ``max_df`` drops fingerprints appearing in more than that many docs
    BEFORE the join (broadcast anti-join, the stopgram move): a
    fingerprint shared by dozens of documents is boilerplate, not copy
    evidence, and its posting list costs df² join rows — at the default
    cap Σdf² ≤ max_df·Σdf, linear in posting volume. Measured at sf0.1
    on a repetitive 30-word-vocabulary corpus: uncapped, 458 s (hot
    fingerprints explode inside one AQE-coalesced task); capped,
    seconds. The oracle applies the identical cut."""
    fp = winnow_fingerprints(docs, n=n, window=window, text_col=text_col)
    if max_df is not None:
        hot = (
            fp.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("fp")
        )
        fp = fp.join(F.broadcast(hot), "fp", "left_anti")
    a = fp.select(F.col("fp"), F.col("doc_id").alias("doc_a"))
    b = fp.select(F.col("fp"), F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fp"))
        .where(F.col("n_shared_fp") >= min_shared)
        .orderBy("doc_a", "doc_b")
    )


def sql_winnow_overlap_pairs(
    min_shared: int = 3, n: int = 4, window: int = 4, max_df: int | None = 20
) -> str:
    toks = "regexp_split_to_array(TRIM(LOWER(text)), '\\s+')"
    grams = (
        f"list_transform(range(1, LENGTH({toks}) - {n} + 2), "
        f"i -> md5(array_to_string({toks}[i:i+{n - 1}], ' ')))"
    )
    cut = (
        f"hot AS (SELECT fp FROM fp0 GROUP BY fp HAVING COUNT(*) > {max_df}),\n"
        "fp AS (SELECT fp0.* FROM fp0 ANTI JOIN hot USING (fp))"
        if max_df is not None
        else "fp AS (SELECT * FROM fp0)"
    )
    return f"""
WITH g AS (
  SELECT doc_id, {grams} AS grams FROM documents
  WHERE LENGTH({toks}) >= {n + window - 1}),
fp0 AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_distinct(list_transform(range(1, LENGTH(grams) - {window} + 2),
                i -> list_aggregate(grams[i:i+{window - 1}], 'min')))) AS fp
  FROM g),
{cut}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_fp
FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {min_shared}
ORDER BY 1, 2
"""


# --------------------------------------------- content-defined chunking (CDC)

#: CDC rolling window (chars) and boundary divisor: a position i is a chunk
#: boundary when md5 of the 8-char window ending at i hits 0 mod 32 —
#: expected chunk ≈ 32 chars (measured 35 on the shipped corpus).
CDC_WINDOW = 8
CDC_DIVISOR = 32


def _cdc_chunk_hashes(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, h): md5 of every content-defined chunk of ``text_col``.

    Content-defined chunking (the rsync/LBFS/storage-dedup primitive):
    chunk boundaries are picked by a rolling content hash, so an insertion
    or deletion only perturbs the chunks that contain the edit — the
    boundary stream RE-SYNCHRONIZES right after it. Fixed-size framing
    (e.g. per-frame hashes) shares zero blocks after a one-char shift;
    CDC is what makes block-level dedup shift-robust.

    Plan shape: everything up to the chunk hashes is ARRAY-WORLD inside
    one projection — boundary positions via ``filter`` over a position
    sequence (one 8-char md5 per position, map-only), chunk slices via
    ``zip_with`` — so there is no per-char explode, no per-doc window,
    and zero shuffle before the (doc, chunk-hash) explode, whose fan-out
    is ~len/32 rows per doc. The boundary-position array is referenced
    by both slice endpoints (projection collapse re-evaluates it twice:
    a bounded 2× on the map-side md5 pass, cheaper than the exchange
    barrier that would dedupe it).
    """
    # explicit spread: one md5 per CHARACTER position makes this the most
    # CPU-dense projection in the module, on byte-light input — without
    # it the single-file scan runs the whole chunking pass in one task
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    t = F.col(text_col)
    pos = F.sequence(F.lit(1), F.greatest(F.length(t), F.lit(1)))
    bpos = F.filter(
        pos,
        lambda i: (i >= CDC_WINDOW)
        & (
            F.conv(
                F.substring(F.md5(t.substr(i - (CDC_WINDOW - 1), F.lit(CDC_WINDOW))), 1, 8),
                16,
                10,
            ).cast("long")
            % CDC_DIVISOR
            == 0
        ),
    )
    starts = F.concat(F.array(F.lit(1)), F.transform(bpos, lambda p: p))
    ends = F.concat(F.transform(bpos, lambda p: p - 1), F.array(F.length(t)))
    chunks = F.zip_with(
        starts, ends, lambda s, e: F.md5(t.substr(s, e - s + 1))
    )
    return docs.select(
        "doc_id", F.explode(chunks).alias("h")
    ).distinct()


def cdc_chunk_near_dups(
    docs: DataFrame, threshold: float = 0.5, text_col: str = "text"
) -> DataFrame:
    """Shift-robust block-level near-duplicate pairs: Jaccard over each
    document's SET of content-defined chunk hashes, candidates from the
    chunk-hash inverted index (equi-join on h — no all-pairs stage; join
    cost is Σ df² over chunk hashes, and unlike token vocabularies the
    chunk-hash space is effectively unbounded, so df stays tiny at any
    corpus size). Output: (doc_a, doc_b, n_shared, jaccard)."""
    sets = _cdc_chunk_hashes(docs, text_col).persist()
    sizes = sets.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sets.select(F.col("doc_id").alias("doc_a"), "h")
    b = sets.select(F.col("doc_id").alias("doc_b"), "h")
    shared = (
        a.join(b, "h")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_shared")
    )
    return (
        shared.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .where(jac >= threshold)
        .select(
            "doc_a", "doc_b", "n_shared", F.round(jac, 6).alias("jaccard")
        )
        .orderBy("doc_a", "doc_b")
    )


def sql_cdc_chunk_near_dups(threshold: float = 0.5) -> str:
    w, d = CDC_WINDOW, CDC_DIVISOR
    return f"""
WITH bounds AS (
  SELECT doc_id, text,
         list_filter(range(1, GREATEST(length(text), 1) + 1),
                     i -> i >= {w}
                      AND CAST(CONCAT('0x', substr(md5(substr(text, i - {w - 1}, {w})), 1, 8)) AS BIGINT)
                          % {d} = 0) AS bpos
  FROM documents
),
sets AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(
           range(1, length(bpos) + 2),
           j -> md5(substr(text,
                           CASE WHEN j = 1 THEN 1 ELSE bpos[j - 1] END,
                           (CASE WHEN j = length(bpos) + 1 THEN length(text)
                                 ELSE bpos[j] - 1 END)
                           - (CASE WHEN j = 1 THEN 1 ELSE bpos[j - 1] END) + 1)))) AS h
  FROM bounds
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sets GROUP BY 1),
m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM sets a JOIN sets b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared,
       ROUND(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 6) AS jaccard
FROM m JOIN sizes sa ON sa.doc_id = m.doc_a JOIN sizes sb ON sb.doc_id = m.doc_b
WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= {threshold}
ORDER BY doc_a, doc_b
"""


# ------------------------------------------------- AllPairs prefix filtering

def allpairs_jaccard_join(
    docs: DataFrame,
    threshold_num: int = 7,
    threshold_den: int = 10,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """EXACT global shingle-Jaccard join via prefix filtering (AllPairs /
    PPJoin, Bayardo et al. WWW'07; Xiao et al. WWW'08): every pair of
    documents whose n-gram-shingle-set Jaccard is >= threshold, with no
    blocking loss and no LSH approximation.

    The trick: order each document's shingle set by ascending corpus df
    (rarest first; ties by shingle) and emit only the first
    ``|s| - ceil(t*|s|) + 1`` shingles as join keys — any two sets with
    Jaccard >= t MUST share a shingle inside those prefixes, so the
    candidate join is lossless while postings for the common (high-df)
    shingles are never materialized. Candidate cost is sum(prefix-df^2)
    over the RARE end of the shingle vocabulary instead of sum(df^2)
    over all of it. A length filter (t*|b| <= |a| <= |b|/t
    cross-multiplied in integers) prunes further before the distinct.

    Positioning in the repo's dedup ladder: `jaccard_near_dups` is the
    (lang, length)-blocked small-scale twin — fast but recall-lossy
    across blocks; `minhash_lsh_*` is probabilistic; THIS operator is
    the exact-at-scale path. The threshold is a rational num/den and
    every filter cross-multiplies in integers, so Spark and the DuckDB
    oracle agree bit-for-bit at the boundary.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, matching the
    brute-force all-pairs oracle exactly.
    """
    sp = docs.sparkSession
    par = sp.sparkContext.defaultParallelism
    w = _tokens(F.col(text_col))
    idx = F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0)))
    sh = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)))
    )
    # persist the postings: they feed BOTH the df groupBy and the ordering
    # join, and without the cache Catalyst re-derives the scan+shingle
    # pipeline once per consumer (measured 4 full re-computations in the
    # un-persisted plan). Like two_phase_window's cache, this lives until
    # clearCache() — bench.py clears between families.
    # spread BEFORE the shingle transform: the single-file scan is one task,
    # and generate runs in the scan stage — without the doc_id spread the
    # whole CPU-dense shingling serializes there (PLANS.md "CPU-dense
    # stages vs byte-based sizing"; measured 5.9 s -> sub-second at sf0.1)
    toks = (
        docs.repartition(par, "doc_id")
        .select("doc_id", F.explode(sh).alias("tok"))
        .repartition(par, "tok")  # partition by the join/groupBy key
        .persist()
    )
    df = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # order each doc's tokens by (df asc, tok asc): total because tokens are
    # distinct per doc. array_sort on struct sorts field-by-field.
    ordered = (
        toks.join(df, "tok")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("ord"))
    )
    sz = F.size("ord")
    # ceil(num*s/den) in exact integer arithmetic: (num*s + den - 1) div den
    ceil_ts = F.floor((F.lit(threshold_num) * sz + F.lit(threshold_den - 1)) / F.lit(threshold_den)).cast("int")
    prefix_len = (sz - ceil_ts + F.lit(1)).cast("int")
    base = (
        ordered.select(
            "doc_id",
            F.transform("ord", lambda x: x["tok"]).alias("toks"),
            sz.alias("sz"),
            F.transform(F.slice("ord", F.lit(1), prefix_len), lambda x: x["tok"]).alias("pref"),
        )
        .repartition(par, "doc_id")  # spread the array builds before the joins
        .persist()  # read by cand (x2) and verify (x2) — four consumers
    )
    cand = base.select("doc_id", "sz", F.explode("pref").alias("tok"))
    a, b = cand.alias("a"), cand.alias("b")
    num, den = F.lit(threshold_num), F.lit(threshold_den)
    pairs = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: J >= t forces t*|b| <= |a| and t*|a| <= |b|
            & (den * F.col("a.sz") >= num * F.col("b.sz"))
            & (den * F.col("b.sz") >= num * F.col("a.sz")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    va = base.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"), F.col("sz").alias("sz_a"))
    vb = base.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"), F.col("sz").alias("sz_b"))
    verified = pairs.join(va, "doc_a").join(vb, "doc_b")
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.col("sz_a") + F.col("sz_b") - inter
    return (
        verified.where(den * inter >= num * union)
        .select(
            "doc_a",
            "doc_b",
            F.round(inter / union, 4).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


def sql_allpairs_jaccard_join(
    threshold_num: int = 7, threshold_den: int = 10, n: int = 3
) -> str:
    """Brute-force all-pairs twin: prefix filtering is lossless, so the
    candidate machinery must reproduce the naive quadratic join exactly."""
    toks = "regexp_split_to_array(TRIM(LOWER(text)), '\\s+')"
    sh = (
        f"list_distinct(list_transform(range(1, GREATEST(LENGTH({toks}) - {n}, 0) + 2), "
        f"i -> array_to_string({toks}[i:i+{n - 1}], ' ')))"
    )
    return f"""
WITH toksets AS (
  SELECT doc_id, {sh} AS toks
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(CAST(LENGTH(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (LENGTH(a.toks) + LENGTH(b.toks) - LENGTH(list_intersect(a.toks, b.toks))), 4) AS jaccard
FROM toksets a JOIN toksets b ON a.doc_id < b.doc_id
WHERE {threshold_den} * LENGTH(list_intersect(a.toks, b.toks))
      >= {threshold_num} * (LENGTH(a.toks) + LENGTH(b.toks) - LENGTH(list_intersect(a.toks, b.toks)))
ORDER BY doc_a, doc_b
"""


# ------------------------------------------------- sorted neighborhood

def sorted_neighborhood_near_dups(
    docs: DataFrame,
    window: int = 5,
    threshold: float = 0.5,
    key_len: int = 32,
    text_col: str = "text",
) -> DataFrame:
    """Sorted-neighborhood (SNM) near-dup candidates: sort the corpus by a
    canonical text-prefix key, compare each document only against its
    ``window`` successors in that order, verify with exact word-set
    Jaccard. The classic record-linkage blocking strategy (Hernández &
    Stolfo '95) — a *different* candidate-generation family from the
    hash-bucketed ones (MinHash bands, SimHash pigeonhole): it catches
    prefix-stable edits regardless of where the shingle hashes land, at a
    guaranteed n·window candidate budget.

    Scale shape: the global sort key rank comes from
    :func:`magiceye_spark.io.two_phase_window` (range-partition + offset
    join — never a single-task sort); the neighbor join is an equi-join
    on rank-bucket keys (each left row replicated into its own and the
    next bucket — bucket size = window — then filtered to
    0 < gap ≤ window), so candidates are n·window and the join is
    hash-partitioned, skew-free by construction (buckets have exactly
    ``window`` rows). Token sets are materialized behind the two-phase
    repartition barrier before the join (nested-HOF re-evaluation
    pathology). Returns (doc_a, doc_b, rank_gap, jaccard), doc_a < doc_b.
    """
    from magiceye_spark.io import two_phase_window

    canon = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    base = docs.select(
        "doc_id",
        F.substring(canon, 1, key_len).alias("snm_key"),
        F.array_distinct(_tokens(F.col(text_col))).alias("toks"),
    )
    ranked = two_phase_window(
        base, [F.asc("snm_key"), F.asc("doc_id")], rank_col="rnk"
    ).select("doc_id", "toks", "rnk")
    bucket = F.floor((F.col("rnk") - 1) / window)
    left = ranked.select(
        F.col("doc_id").alias("id_a"),
        F.col("toks").alias("toks_a"),
        F.col("rnk").alias("rnk_a"),
        F.explode(F.array(bucket, bucket + 1)).alias("bk"),
    )
    right = ranked.select(
        F.col("doc_id").alias("id_b"),
        F.col("toks").alias("toks_b"),
        F.col("rnk").alias("rnk_b"),
        bucket.alias("bk"),
    )
    pairs = left.join(right, "bk").where(
        (F.col("rnk_b") > F.col("rnk_a"))
        & (F.col("rnk_b") <= F.col("rnk_a") + window)
    )
    raw = F.size(F.array_intersect("toks_a", "toks_b")) / F.size(
        F.array_union("toks_a", "toks_b")
    )
    return pairs.where(raw >= threshold).select(
        F.least("id_a", "id_b").alias("doc_a"),
        F.greatest("id_a", "id_b").alias("doc_b"),
        (F.col("rnk_b") - F.col("rnk_a")).alias("rank_gap"),
        F.round(raw, 4).alias("jaccard"),
    )


def sql_sorted_neighborhood(
    window: int = 5, threshold: float = 0.5, key_len: int = 32
) -> str:
    return f"""
WITH base AS (
  SELECT doc_id,
         SUBSTRING(regexp_replace(TRIM(LOWER(text)), '\\s+', ' ', 'g'), 1, {key_len}) AS snm_key,
         list_distinct(regexp_split_to_array(TRIM(LOWER(text)), '\\s+')) AS toks
  FROM documents),
r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY snm_key, doc_id) AS rnk FROM base)
SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
       GREATEST(a.doc_id, b.doc_id) AS doc_b,
       b.rnk - a.rnk AS rank_gap,
       ROUND(LENGTH(list_intersect(a.toks, b.toks))
             / CAST(LENGTH(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE), 4) AS jaccard
FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk <= a.rnk + {window}
WHERE LENGTH(list_intersect(a.toks, b.toks))
      / CAST(LENGTH(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= {threshold}
"""


def snm_vs_allpairs_agreement(
    docs: DataFrame,
    threshold: float = 0.5,
    window: int = 5,
    length_tol: int = 60,
    text_col: str = "text",
) -> DataFrame:
    """Blocking-strategy evaluation: how much of the blocked all-pairs
    Jaccard ground truth (same verify threshold) does sorted-neighborhood
    blocking recover, and what does SNM find OUTSIDE that reference's
    (lang, length) blocks? One row: (n_ref, n_snm, n_both, snm_recall,
    snm_extra). This is the measurement a pipeline owner runs before
    trusting a cheaper candidate generator at scale — recall against an
    exact small-scale twin, the same status as the other oracle twins.

    Full-outer join of the two pair sets; counts are exact integers,
    recall one double division. Cost is the sum of the two underlying
    operators (the reference twin is O(block²) — this is an sf-scale
    audit query, not a 100 TB path; SNM itself is the scale path)."""
    ref = jaccard_near_dups(
        docs, threshold=threshold, length_tol=length_tol, text_col=text_col
    ).select("doc_a", "doc_b", F.lit(1).alias("in_ref"))
    snm = sorted_neighborhood_near_dups(
        docs, window=window, threshold=threshold, text_col=text_col
    ).select("doc_a", "doc_b", F.lit(1).alias("in_snm"))
    both = ref.join(snm, ["doc_a", "doc_b"], "full_outer")
    return both.agg(
        F.sum(F.coalesce(F.col("in_ref"), F.lit(0))).cast("long").alias("n_ref"),
        F.sum(F.coalesce(F.col("in_snm"), F.lit(0))).cast("long").alias("n_snm"),
        F.sum(
            F.when(F.col("in_ref").isNotNull() & F.col("in_snm").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_both"),
        (
            F.sum(
                F.when(
                    F.col("in_ref").isNotNull() & F.col("in_snm").isNotNull(), 1
                ).otherwise(0)
            ).cast("double")
            / F.sum(F.coalesce(F.col("in_ref"), F.lit(0))).cast("double")
        ).alias("snm_recall"),
        F.sum(
            F.when(F.col("in_ref").isNull() & F.col("in_snm").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("snm_extra"),
    )


def sql_snm_vs_allpairs_agreement(
    threshold: float = 0.5, window: int = 5, length_tol: int = 60, key_len: int = 32
) -> str:
    ref_sql = sql_jaccard_near_dups(threshold=threshold, length_tol=length_tol)
    snm_sql = sql_sorted_neighborhood(
        window=window, threshold=threshold, key_len=key_len
    )
    return f"""
WITH ref AS ({ref_sql}),
snm AS ({snm_sql}),
j AS (
  SELECT COALESCE(ref.doc_a, snm.doc_a) AS doc_a,
         COALESCE(ref.doc_b, snm.doc_b) AS doc_b,
         (ref.doc_a IS NOT NULL)::INT AS in_ref,
         (snm.doc_a IS NOT NULL)::INT AS in_snm
  FROM ref FULL OUTER JOIN snm
    ON ref.doc_a = snm.doc_a AND ref.doc_b = snm.doc_b)
SELECT CAST(SUM(in_ref) AS BIGINT) AS n_ref,
       CAST(SUM(in_snm) AS BIGINT) AS n_snm,
       CAST(SUM(in_ref * in_snm) AS BIGINT) AS n_both,
       CAST(SUM(in_ref * in_snm) AS DOUBLE) / CAST(SUM(in_ref) AS DOUBLE) AS snm_recall,
       CAST(SUM((1 - in_ref) * in_snm) AS BIGINT) AS snm_extra
FROM j
"""

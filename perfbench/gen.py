"""Seeded input generators with planted truth.

Every input of the benchmark comes from here and depends only on the seed
and the sizes passed in. Each generator returns the inputs together with
the truth the checker compares the program's output against, so a run
never trusts the program to tell it what the right answer was.

Pure Python / NumPy / pyarrow: nothing here starts Spark, so the
generators are testable on their own (test_inputs.py).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

# ---------------------------------------------------------------- catalog

_TYPES = [
    "integer", "bigint", "text", "character varying(255)", "numeric(12,2)",
    "timestamp without time zone", "boolean", "date", "jsonb", "uuid",
]

#: planted difference counts per reference check (SURVEY.md D-numbering);
#: the matchers D2/D3/D10/D15 produce no findings of their own
CATALOG_PLANT = {
    "D1_table_missing": 20,
    "D4_column_missing": 200,
    "D5_data_type": 300,
    "D6_comment": 300,
    "D7_nullable": 200,
    "D8_default": 200,
    "D9_auto_increment": 50,
    "D11_index_missing": 100,
    "D12_index_columns": 100,
    "D13_index_predicate": 60,
    "D14_index_unique": 60,
    "D16_fk_missing": 60,
    "D17_fk_ref": 60,
}

#: objects only the target has: the directional diff must ignore them
CATALOG_TARGET_ONLY = {"tables": 10, "columns": 200}


@dataclass
class Catalog:
    """Rows of the four snapshot tables, in schema.py column order."""

    tables: list = field(default_factory=list)
    columns: list = field(default_factory=list)
    indexes: list = field(default_factory=list)
    fks: list = field(default_factory=list)


@dataclass
class CatalogPair:
    base: Catalog
    target: Catalog
    #: planted D-code -> count
    planted: dict
    #: (table_name, object_kind, object_name, check, base_value, target_value)
    findings: list


def _render_null(b: bool) -> str:
    return "NULL" if b else "NOT NULL"


def _render_auto(b: bool) -> str:
    return "AUTO_INCREMENT" if b else "NOT AUTO_INCREMENT"


def _render_unique(b: bool) -> str:
    return "UNIQUE" if b else "NOT UNIQUE"


def catalog_pair(seed: int, n_tables: int = 2000) -> CatalogPair:
    """A base catalog shaped like a large production database (about 25
    columns, 1-4 indexes and 0-2 foreign keys per table) and a target with
    the differences of :data:`CATALOG_PLANT` planted on disjoint objects, so
    each planted difference yields exactly one finding."""
    rng = random.Random(seed)
    names = [f"t{i:05d}_{rng.choice(['acct', 'ord', 'inv', 'usr', 'evt', 'log'])}"
             for i in range(n_tables)]
    base = Catalog()
    for t in names:
        base.tables.append((t, f"table {t}"))
        n_cols = rng.randint(15, 35)
        auto = rng.random() < 0.5
        cols = ["id"] + [f"c{j:02d}" for j in range(1, n_cols)]
        base.columns.append(
            (t, "id", "bigint", f"nextval('{t}_id_seq'::regclass)", False, "primary key", auto)
        )
        for c in cols[1:]:
            default = rng.choice(["", "", "0", "now()", "'n/a'::text"])
            base.columns.append(
                (t, c, rng.choice(_TYPES), default, rng.random() < 0.6,
                 rng.choice(["", f"{c} of {t}", "legacy"]), False)
            )
        base.indexes.append((t, f"{t}_pkey", ["id"], "", True))
        for k in range(rng.randint(0, 3)):
            icols = rng.sample(cols[1:], rng.randint(1, 3))
            pred = f"({icols[0]} IS NOT NULL)" if rng.random() < 0.1 else ""
            base.indexes.append((t, f"{t}_idx{k}", icols, pred, rng.random() < 0.2))
        for k in range(rng.randint(0, 2)):
            ref = rng.choice(names)
            base.fks.append((t, f"{t}_fk{k}", [rng.choice(cols[1:])], ref, "id"))

    p = CATALOG_PLANT
    findings = []
    tables = list(base.tables)
    missing_tables = set(rng.sample(names, p["D1_table_missing"]))
    for t in sorted(missing_tables):
        findings.append((t, "table", t, "missing", "", ""))
    live = lambda rows: [i for i, r in enumerate(rows) if r[0] not in missing_tables]

    # columns: one planted change per chosen column, chosen disjointly
    col_idx = live(base.columns)
    order = rng.sample(col_idx, sum(p[k] for k in (
        "D4_column_missing", "D5_data_type", "D6_comment", "D7_nullable",
        "D8_default", "D9_auto_increment")))
    tcols = {i: list(r) for i, r in enumerate(base.columns)}
    drop_cols = set()
    pos = 0

    def take(key):
        nonlocal pos
        out = order[pos:pos + p[key]]
        pos += p[key]
        return out

    for i in take("D4_column_missing"):
        drop_cols.add(i)
        r = base.columns[i]
        findings.append((r[0], "column", r[1], "missing", "", ""))
    for i in take("D5_data_type"):
        r = tcols[i]
        new = rng.choice([x for x in _TYPES if x != r[2]])
        findings.append((r[0], "column", r[1], "data_type", r[2], new))
        r[2] = new
    for i in take("D6_comment"):
        r = tcols[i]
        new = r[5] + " (changed)"
        findings.append((r[0], "column", r[1], "comment", r[5], new))
        r[5] = new
    for i in take("D7_nullable"):
        r = tcols[i]
        findings.append((r[0], "column", r[1], "nullable",
                         _render_null(r[4]), _render_null(not r[4])))
        r[4] = not r[4]
    for i in take("D8_default"):
        r = tcols[i]
        new = "42" if r[3] != "42" else "43"
        findings.append((r[0], "column", r[1], "default", r[3], new))
        r[3] = new
    for i in take("D9_auto_increment"):
        r = tcols[i]
        findings.append((r[0], "column", r[1], "auto_increment",
                         _render_auto(r[6]), _render_auto(not r[6])))
        r[6] = not r[6]

    idx_idx = live(base.indexes)
    order = rng.sample(idx_idx, sum(p[k] for k in (
        "D11_index_missing", "D12_index_columns", "D13_index_predicate",
        "D14_index_unique")))
    pos = 0
    tidx = {i: [r[0], r[1], list(r[2]), r[3], r[4]] for i, r in enumerate(base.indexes)}
    drop_idx = set()
    for i in take("D11_index_missing"):
        drop_idx.add(i)
        r = base.indexes[i]
        findings.append((r[0], "index", r[1], "missing", "", ""))
    for i in take("D12_index_columns"):
        r = tidx[i]
        new = list(reversed(r[2])) if len(r[2]) > 1 else r[2] + ["id"]
        findings.append((r[0], "index", r[1], "index_columns",
                         ", ".join(r[2]), ", ".join(new)))
        r[2] = new
    for i in take("D13_index_predicate"):
        r = tidx[i]
        new = "(deleted_at IS NULL)" if r[3] != "(deleted_at IS NULL)" else ""
        findings.append((r[0], "index", r[1], "index_predicate", r[3], new))
        r[3] = new
    for i in take("D14_index_unique"):
        r = tidx[i]
        findings.append((r[0], "index", r[1], "index_unique",
                         _render_unique(r[4]), _render_unique(not r[4])))
        r[4] = not r[4]

    fk_idx = live(base.fks)
    order = rng.sample(fk_idx, p["D16_fk_missing"] + p["D17_fk_ref"])
    pos = 0
    tfk = {i: list(r) for i, r in enumerate(base.fks)}
    drop_fk = set()
    for i in take("D16_fk_missing"):
        drop_fk.add(i)
        r = base.fks[i]
        findings.append((r[0], "fk", r[1], "missing", "", ""))
    for i in take("D17_fk_ref"):
        r = tfk[i]
        findings.append((r[0], "fk", r[1], "fk_ref",
                         f"{r[3]}.{r[4]}", f"{r[3]}.code"))
        r[4] = "code"

    target = Catalog()
    target.tables = [r for r in tables if r[0] not in missing_tables]
    target.columns = [tuple(tcols[i]) for i in col_idx if i not in drop_cols]
    target.indexes = [tuple(tidx[i]) for i in idx_idx if i not in drop_idx]
    target.fks = [tuple(tfk[i]) for i in fk_idx if i not in drop_fk]
    # target-only objects: ignored by the base->target diff
    for k in range(CATALOG_TARGET_ONLY["tables"]):
        t = f"zz_new_{k:03d}"
        target.tables.append((t, "new table"))
        target.columns.append((t, "id", "bigint", "", False, "", False))
    live_tables = [r[0] for r in target.tables if not r[0].startswith("zz_")]
    for k in range(CATALOG_TARGET_ONLY["columns"]):
        target.columns.append(
            (rng.choice(live_tables), f"added_{k:03d}", "text", "", True, "", False)
        )
    return CatalogPair(base, target, dict(p), sorted(findings))


# --------------------------------------------------------------- lineitem

LINEITEM_KEYS = ["l_orderkey", "l_linenumber"]
#: columns a planted change may touch (a non-empty subset per changed row)
LINEITEM_CHANGEABLE = [
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_shipdate",
]


@dataclass
class LineitemPair:
    base: pa.Table
    target: pa.Table
    #: sorted (l_orderkey, l_linenumber, diff_status, changed_columns)
    truth: list
    planted: dict


def _lineitem(rng: np.random.Generator, orderkeys: np.ndarray, lines: np.ndarray) -> dict:
    n = len(orderkeys)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return {
        "l_orderkey": orderkeys.astype(np.int64),
        "l_partkey": rng.integers(1, 20001, n).astype(np.int64),
        "l_suppkey": rng.integers(1, 1001, n).astype(np.int64),
        "l_linenumber": lines.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": (np.datetime64("1992-01-01", "us")
                       + rng.integers(0, 2500, n).astype("timedelta64[D]")),
    }


def lineitem_pair(
    seed: int, n_rows: int = 600_000, removed: int = 3000, added: int = 3000,
    changed: int = 6000,
) -> LineitemPair:
    """A lineitem-shaped base table keyed by (l_orderkey, l_linenumber) and
    a target with exactly ``removed`` rows dropped, ``added`` new keys and
    ``changed`` rows differing in a seeded non-empty subset of
    :data:`LINEITEM_CHANGEABLE`."""
    rng = np.random.default_rng(seed)
    i = np.arange(n_rows)
    base = _lineitem(rng, i // 4 + 1, i % 4 + 1)
    perm = rng.permutation(n_rows)  # files are not sorted by key
    base = {k: v[perm] for k, v in base.items()}

    pick = rng.permutation(n_rows)[: removed + changed]
    rem, chg = pick[:removed], pick[removed:]
    tgt = {k: v.copy() for k, v in base.items()}
    truth = []
    for j in rem:
        truth.append((int(base["l_orderkey"][j]), int(base["l_linenumber"][j]), "removed", ""))
    masks = rng.integers(1, 1 << len(LINEITEM_CHANGEABLE), len(chg))
    for j, m in zip(chg, masks):
        cols = [c for b, c in enumerate(LINEITEM_CHANGEABLE) if m >> b & 1]
        for c in cols:
            if c == "l_returnflag":
                tgt[c][j] = {"A": "N", "N": "R", "R": "A"}[tgt[c][j]]
            elif c == "l_shipdate":
                tgt[c][j] = tgt[c][j] + np.timedelta64(1, "D")
            elif c == "l_quantity":
                tgt[c][j] += 1.0
            else:
                tgt[c][j] = round(tgt[c][j] + 0.01, 2)
        truth.append((int(base["l_orderkey"][j]), int(base["l_linenumber"][j]),
                      "changed", ",".join(sorted(cols))))
    keep = np.ones(n_rows, bool)
    keep[rem] = False
    tgt = {k: v[keep] for k, v in tgt.items()}
    k0 = n_rows // 4 + 2
    new = _lineitem(rng, k0 + np.arange(added) // 4, np.arange(added) % 4 + 1)
    tgt = {k: np.concatenate([tgt[k], new[k]]) for k in tgt}
    for a, b in zip(new["l_orderkey"], new["l_linenumber"]):
        truth.append((int(a), int(b), "added", ""))
    return LineitemPair(
        pa.table(base), pa.table(tgt), sorted(truth),
        {"removed": removed, "added": added, "changed": changed},
    )


# ---------------------------------------------------------------- ingest


@dataclass
class IngestInputs:
    """A seed corpus for the store plus micro-batches to drain through it.

    ``batches[k]`` is a pyarrow table of the batch's rows; ``admitted[k]``
    the ids the admission rule must keep (everything but planted clones);
    ``clones[k]`` the planted clone ids, which must all be rejected."""

    seed_rows: pa.Table
    batches: list
    admitted: list
    clones: list
    planted: dict


def _plant(rng: random.Random, n_batches: int, batch_size: int, n_seed: int,
           per_batch: dict) -> list:
    """Clone plan shared by both ingest generators: per batch, which
    positions are clones and of which earlier id. Originals come first in
    a batch and clones after them, so a same-batch clone always has the
    larger id and the original is the component's minimum incoming id."""
    plans, admitted_so_far = [], []
    n_clones = sum(per_batch.values())
    for k in range(n_batches):
        lo = n_seed + k * batch_size
        n_orig = batch_size - n_clones
        own = list(range(lo, lo + n_orig))
        src = ([("store", rng.randrange(n_seed)) for _ in range(per_batch["store"])]
               + [("same", rng.choice(own)) for _ in range(per_batch["same"])]
               + [("prev", rng.choice(admitted_so_far) if admitted_so_far
                   else rng.randrange(n_seed)) for _ in range(per_batch["prev"])])
        plans.append((own, [(lo + n_orig + j, s) for j, s in enumerate(src)]))
        admitted_so_far.extend(own)
    return plans


def _vocab(rng: random.Random, n: int) -> list[str]:
    syl = ["ka", "to", "ri", "mu", "se", "na", "lo", "pe", "di", "vo", "ze", "gu"]
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(syl) for _ in range(rng.randint(1, 3))))
    return sorted(words)


#: shortest source a near clone is made from: appending one word to an
#: n-word doc gives 3-gram Jaccard (n-2)/(n-1), which LSH (32 hashes, 8
#: bands) misses with probability (1-J^4)^8: 4e-4 at 10 words, 2e-6 at
#: 20. Shorter sources are cloned exactly, so a planted clone is never
#: lost to chance.
NEAR_CLONE_MIN_WORDS = 20


def documents(
    seed: int, n_seed: int = 3500, n_batches: int = 40, batch_size: int = 500,
    per_batch: dict | None = None,
) -> IngestInputs:
    """Documents shaped like the sf0.1 ``documents`` table: 10-100 words
    drawn uniformly from a 30-word vocabulary, a 3,500-doc store and
    500-doc batches (bench.py's ingest loop takes the same split of the
    sf0.1 table). Every batch plants 40 clones (8 %): of a stored doc, of
    an earlier doc of the same batch, and of a doc an earlier batch
    admitted. On sf0.1, MinHash admission of 500-doc batches against the
    3,500-doc store finds 30-49 pairs a batch, nine in ten touching the
    store; random pairs share almost no word 3-grams there as here. Half
    the clones are exact; the other half append the word "dup", as the
    sf0.1 near-duplicates do (exact below :data:`NEAR_CLONE_MIN_WORDS`)."""
    per_batch = per_batch or {"store": 32, "same": 4, "prev": 4}
    rng = random.Random(seed)
    vocab = _vocab(rng, 30)
    total = n_seed + n_batches * batch_size
    texts: dict[int, str] = {}

    def fresh() -> str:
        return " ".join(rng.choices(vocab, k=rng.randint(10, 100)))

    def clone(src: str) -> str:
        if rng.random() < 0.5 or src.count(" ") + 1 < NEAR_CLONE_MIN_WORDS:
            return src
        return src + " dup"

    for d in range(n_seed):
        texts[d] = fresh()
    plans = _plant(rng, n_batches, batch_size, n_seed, per_batch)
    batches, admitted, clones = [], [], []
    for own, cl in plans:
        for d in own:
            texts[d] = fresh()
        for d, (_, s) in cl:
            texts[d] = clone(texts[s])
        ids = own + [d for d, _ in cl]
        batches.append(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": [texts[d] for d in ids]}))
        admitted.append(sorted(own))
        clones.append(sorted(d for d, _ in cl))
    seed_ids = list(range(n_seed))
    assert len(texts) == total
    return IngestInputs(
        pa.table({"doc_id": pa.array(seed_ids, pa.int64()),
                  "text": [texts[d] for d in seed_ids]}),
        batches, admitted, clones,
        {"seed_docs": n_seed, "batches": n_batches, "batch_size": batch_size,
         **{f"clones_{k}_per_batch": v for k, v in per_batch.items()}},
    )


def vectors(
    seed: int, n_seed: int = 1400, n_batches: int = 40, batch_size: int = 200,
    dim: int = 64, per_batch: dict | None = None,
) -> IngestInputs:
    """Vectors shaped like the sf0.1 ``embeddings`` table: 64-dim unit
    vectors in uniformly random directions (there, the median cosine of a
    pair is 0.0 and the largest of its 2 million pairs 0.60, far below
    the 0.95 admission threshold), a 1,400-vector store and 200-vector
    batches (bench.py's split of that table). The sf0.1 table holds no
    near-copies, so each batch plants 10 (5 %, the near-duplicate rate
    of the sf0.1 documents): the source vector plus Gaussian noise of 1 %
    of its norm, which keeps the cosine above 0.999."""
    per_batch = per_batch or {"store": 6, "same": 2, "prev": 2}
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    vecs: dict[int, np.ndarray] = {}

    def fresh(n: int) -> np.ndarray:
        v = nrng.standard_normal((n, dim))
        return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)

    for d, v in enumerate(fresh(n_seed)):
        vecs[d] = v
    plans = _plant(rng, n_batches, batch_size, n_seed, per_batch)
    batches, admitted, clones = [], [], []
    for own, cl in plans:
        for d, v in zip(own, fresh(len(own))):
            vecs[d] = v
        for d, (_, s) in cl:
            src = vecs[s]
            noise = nrng.standard_normal(dim) * (0.01 * np.linalg.norm(src) / np.sqrt(dim))
            vecs[d] = (src + noise).astype(np.float32)
        ids = own + [d for d, _ in cl]
        batches.append(_vec_table(ids, vecs))
        admitted.append(sorted(own))
        clones.append(sorted(d for d, _ in cl))
    return IngestInputs(
        _vec_table(list(range(n_seed)), vecs), batches, admitted, clones,
        {"seed_vectors": n_seed, "batches": n_batches, "batch_size": batch_size,
         "dim": dim, **{f"clones_{k}_per_batch": v for k, v in per_batch.items()}},
    )


def _vec_table(ids: list, vecs: dict) -> pa.Table:
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array([vecs[d].tolist() for d in ids], pa.list_(pa.float32())),
    })


def max_unplanned_cosine(inp: IngestInputs) -> float:
    """Largest cosine between two vectors that are not a planted
    clone/source pair — must stay well below the admission threshold for
    the planted truth to be the whole truth."""
    tabs = [inp.seed_rows] + inp.batches
    ids = np.concatenate([t.column("vec_id").to_numpy() for t in tabs])
    m = np.concatenate([np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
                        for t in tabs]).astype(np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    clone_ids = {d for c in inp.clones for d in c}
    keep = np.array([d not in clone_ids for d in ids])
    m = m[keep]
    best = -1.0
    for lo in range(0, len(m), 2000):
        s = m[lo:lo + 2000] @ m.T
        for r in range(s.shape[0]):
            s[r, lo + r] = -1.0
        best = max(best, float(s.max()))
    return best

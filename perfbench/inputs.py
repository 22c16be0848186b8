"""Seeded input generator for the benchmark.

The base tables in ``perfbench/data`` are the engine's sf0.01 test tier
(the ten star-schema, events, documents and embeddings tables). A seed
derives a new input set from them with a deterministic transform:

* every surrogate key (customer, order, part, supplier, user, event,
  document and vector ids) is relabelled by a seeded permutation of its
  own range, the same permutation on both sides of every join. Key
  ranges stay put, so range- and modulo-keyed query filters
  (``vec_id < N_QUERIES``, ``doc_id % 5 = 0``) keep selecting rows;
  which rows they select changes with the seed.
* every embedding is rotated by a seeded number of dimensions, which
  keeps norms and within-set dot products and changes every vector.

Fixed-literal columns (nation and region names, segments, dates, flags)
are untouched, so no literal filter empties. The same seed writes
byte-identical files; another seed writes the same row counts with
other keys and content.

    python3 perfbench/inputs.py --seed 7 --out DIR
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: key family -> (table, column) pairs it labels. The first pair is the
#: family's own table; the key range is that column's [0, max].
KEYS: dict[str, tuple[tuple[str, str], ...]] = {
    "custkey": (("customer", "c_custkey"), ("orders", "o_custkey")),
    "orderkey": (("orders", "o_orderkey"), ("lineitem", "l_orderkey")),
    "partkey": (("part", "p_partkey"), ("lineitem", "l_partkey")),
    "suppkey": (("supplier", "s_suppkey"), ("lineitem", "l_suppkey")),
    "user_id": (("events", "user_id"),),
    "event_id": (("events", "event_id"),),
    "doc_id": (("documents", "doc_id"),),
    "vec_id": (("embeddings", "vec_id"),),
}


def _permutation(seed: int, family: str, n: int) -> np.ndarray:
    stream = list(KEYS).index(family)
    return np.random.default_rng([seed, stream]).permutation(n)


def _relabel(col: pa.ChunkedArray, perm: np.ndarray) -> pa.Array:
    keys = col.to_numpy()
    if keys.min() < 0 or keys.max() >= len(perm):
        raise ValueError("key outside its family's range")
    return pa.array(perm[keys], type=col.type)


def _rotate(col: pa.ChunkedArray, seed: int) -> pa.Array:
    rows = col.combine_chunks()
    dim = len(rows[0].values)
    if pc.any(pc.not_equal(pc.list_value_length(rows), dim)).as_py():
        raise ValueError("embeddings of mixed dimension")
    flat = rows.flatten().to_numpy().reshape(-1, dim)
    # 1 + seed mod (dim - 1): never the identity rotation
    rolled = np.roll(flat, 1 + seed % (dim - 1), axis=1).reshape(-1)
    return pa.ListArray.from_arrays(
        rows.offsets, pa.array(rolled, type=rows.type.value_type)
    )


def transform(seed: int) -> dict[str, pa.Table]:
    """The seed's tables, keyed by table name."""
    tables = {t: pq.read_table(os.path.join(BASE, f"{t}.parquet")) for t in TABLES}
    for family, uses in KEYS.items():
        own_table, own_col = uses[0]
        n = pc.max(tables[own_table][own_col]).as_py() + 1
        perm = _permutation(seed, family, n)
        for table, column in uses:
            t = tables[table]
            i = t.schema.get_field_index(column)
            tables[table] = t.set_column(i, t.field(i), _relabel(t[column], perm))
    emb = tables["embeddings"]
    i = emb.schema.get_field_index("embedding")
    tables["embeddings"] = emb.set_column(i, emb.field(i), _rotate(emb["embedding"], seed))
    return tables


def write(seed: int, out: str) -> None:
    """Write the seed's tables as ``out/<table>.parquet``. The directory
    appears complete or not at all (written aside, then renamed)."""
    parent = os.path.dirname(os.path.abspath(out))
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".inputs-", dir=parent)
    try:
        for name, table in transform(seed).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        os.rename(tmp, out)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise


def ensure(seed: int, out: str) -> bool:
    """Write the seed's inputs to ``out`` unless already there; True
    when they were generated now."""
    if os.path.isdir(out):
        return False
    write(seed, out)
    return True


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    write(args.seed, args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""NULL-payload scout: re-run every oracle comparison on the
adversarial fixture WITH NULL ``documents.text`` and NULL
``embeddings.embedding`` rows injected, and report exactly which
operators diverge cross-engine (hash mismatch), which break outright
(exception), and which already hash-match through the NULLs.

The NULL-payload hardening was driven through this script fix-by-fix
(18 operators, all green). The adversarial fixture now
carries the same NULL cadence natively (text/n_chars every 6th doc,
embedding every 5th vector — this script's injection is idempotent on
it), so the committed suite guards the behavior; the script remains
the standalone reproducer:

    python scripts/null_scout.py            # full sweep
    python scripts/null_scout.py text_langid emb_semdedup   # subset
"""

from __future__ import annotations

import os
import sys
import tempfile
import traceback

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
)

from covid_engineering_spark import schemas  # noqa: E402
from covid_engineering_spark.queries import oracles, registry  # noqa: E402
from covid_engineering_spark.session import get_spark  # noqa: E402

from tests.oracle_check import compare, duck_con  # noqa: E402
from tests.test_adversarial_oracle import (  # noqa: E402
    PRECONDITION_VIOLATED,
    _arrow_type,
    _pathological_rows,
)


def null_payload_rows() -> dict:
    rows = _pathological_rows()
    # NULL text every 6th doc (co-primes with the existing lang %7 /
    # source %5 cycles so NULL-text rows carry both present and NULL
    # metadata), NULL embedding every 5th vector.
    rows["documents"] = [
        (doc_id, None if doc_id % 6 == 0 else text, lang, source,
         None if doc_id % 6 == 0 else n_chars)
        for (doc_id, text, lang, source, n_chars) in rows["documents"]
    ]
    rows["embeddings"] = [
        (vec_id, None if vec_id % 5 == 0 else vec, label)
        for (vec_id, vec, label) in rows["embeddings"]
    ]
    return rows


def write_fixture(root: str, rows: dict) -> None:
    for name, schema in schemas.STAR.items():
        arrays, fields = [], []
        for i, f in enumerate(schema.fields):
            at = _arrow_type(f.dataType)
            fields.append(pa.field(f.name, at))
            arrays.append(pa.array([r[i] for r in rows[name]], type=at))
        pq.write_table(
            pa.Table.from_arrays(arrays, schema=pa.schema(fields)),
            os.path.join(root, f"{name}.parquet"),
        )


def main() -> int:
    only = set(sys.argv[1:])
    spark = get_spark(app_name="null-scout")
    root = tempfile.mkdtemp(prefix="null_scout_")
    write_fixture(root, null_payload_rows())
    reg, orc = registry(), oracles()
    con = duck_con(root)
    diverge, broken, ok = {}, {}, []
    try:
        for name in sorted(orc):
            if name in PRECONDITION_VIOLATED:
                continue
            if only and name not in only:
                continue
            try:
                res = compare(reg[name](spark, root), con, orc[name])
            except Exception:  # noqa: BLE001 - scout collects everything
                broken[name] = traceback.format_exc(limit=1).splitlines()[-1][:200]
                continue
            if res["match"]:
                ok.append(name)
            else:
                diverge[name] = {
                    k: v for k, v in res.items()
                    if k in ("spark_rows", "duck_rows", "sample_spark",
                             "sample_duck", "sample_a", "sample_b",
                             "cols_match", "count_match")
                }
    finally:
        con.close()
    print(f"\nOK through NULL payloads: {len(ok)}")
    print(f"\nBROKEN (exception): {len(broken)}")
    for n, e in sorted(broken.items()):
        print(f"  {n}: {e}")
    print(f"\nDIVERGE (hash mismatch): {len(diverge)}")
    for n, d in sorted(diverge.items()):
        print(f"  {n}: {d}")
    return 0 if not (broken or diverge) else 1


if __name__ == "__main__":
    sys.exit(main())

"""Adversarial differential sweep: every oracle comparison re-run on
PATHOLOGICAL data — duplicate timestamps, aggregate ties, negative and
zero money values, unicode text, zero vectors, empty strings, NULL
join keys and event types, NULL document text and NULL embedding
vectors, and a multi-thousand-word document. The well-behaved driver
testdata never exercises these paths; this net caught two real oracle
defects on first run (the f8 money formatter broke on negative cents,
and a18's pure-relative error bound was undefined at an exact
percentile of 0), and the NULL-payload hardening was driven
through it (18 operators: NULL text diverged 11 text/pipe oracles
cross-engine, NULL embeddings broke 7 ANN/emb oracles).

Operators whose DOCUMENTED preconditions this data deliberately
violates are excluded with the reason inline — everything else must
hash-match DuckDB even here.
"""

import datetime
import math
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from covid_engineering_spark import schemas
from covid_engineering_spark.queries import oracles, registry

from tests.oracle_check import compare, duck_con

#: Documented-precondition exclusions (docstring reference):
#: - mm_*: the byte/char oracle equivalence requires an ASCII corpus
#:   (multimodal.py ORACLES comment; asserted for the real corpus in
#:   test_multimodal) — this corpus is deliberately unicode.
#: - ts_resample / ts_rollup_incremental: min_by/max_by open/close
#:   determinism requires unique event timestamps (timeseries.py module
#:   docstring; the incremental form documents the same contract) —
#:   all equal here.
#: - pipe_cdc_upsert: latest-wins requires a total order on ts within a
#:   key (pipeline.py cdc_upsert docstring) — all equal here.
PRECONDITION_VIOLATED = {
    "mm_feature_extract",
    "mm_frame_sample",
    "mm_resize",
    "ts_resample",
    "ts_rollup_incremental",
    "pipe_cdc_upsert",
}

#: NULL payloads: NULL `documents.text` and NULL
#: `embeddings.embedding` rows are baked into the fixture below, and
#: every twinned oracle must hash-match through them. The per-operator
#: semantics (documented at each operator): per-document
#: text metrics propagate NULL; gate/keep verdicts are literal FALSE
#: for a payload-less document; corpus aggregates count payload-less
#: docs but NULL-skip their token sums; index/train/eval embedding ops
#: (PQ/IVF-PQ codebooks, centroids, assignment, RP recall) exclude
#: NULL vectors on both sides — a vector row without a vector is not
#: retrievable.


def _arrow_type(t):
    return {
        "int": pa.int32(),
        "bigint": pa.int64(),
        "double": pa.float64(),
        "string": pa.string(),
        "timestamp_ntz": pa.timestamp("us"),
        "array<float>": pa.list_(pa.float32()),
    }[t.simpleString()]


def _vec(i):
    if i % 3 == 0:
        return [0.0] * 64
    v = [math.sin(i * j + 1) for j in range(64)]
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def _pathological_rows():
    D = datetime.datetime
    texts = [
        "héllo wörld ünïcode",
        "one",
        "dup dup dup dup dup dup",
        "a b",
        "x y z w v u t s",
        "ASCII only plain text here",
        "",
        " ".join(f"w{k % 97}" for k in range(2000)),  # giant doc
        'line\nbreak\ttab "quoted, comma"',  # control chars + CSV/JSON traps
    ]
    return {
        "region": [(0, "R0"), (1, "R1")],
        "nation": [(0, "N0", 0), (1, "N1", 0), (2, "N2", 1)],
        "customer": [
            (i, f"c{i}", None if i % 5 == 0 else i % 3,
             [-5.0, 0.0, 0.0, 7.25][i % 4],
             ["BUILDING", "AUTOMOBILE"][i % 2])
            for i in range(12)
        ],
        "supplier": [(i, f"s{i}", i % 3, 0.0) for i in range(4)],
        "part": [
            (i, f"p{i}", "B", "T", 1,
             [899.0, 925.0, 950.0, 975.0, 999.99][i % 5])
            for i in range(8)
        ],
        # NULL foreign keys: inner joins must drop them identically
        "orders": [
            (i, None if i % 7 == 0 else i % 12, ["F", "O", "P"][i % 3],
             [-1.5, 0.0, 100.0][i % 3], D(2020, 1, 1 + (i % 3)), "1-URGENT")
            for i in range(20)
        ],
        "lineitem": [
            (i % 5, i % 8, i % 4, i, [0.0, 1.0, -3.0][i % 3],
             [-10.0, 0.0, 5.5][i % 3], [0.0, 1.0, 0.5][i % 3], 0.0,
             ["N", "R", "A"][i % 3], ["F", "O"][i % 2], D(2020, 1, 1))
            for i in range(20)
        ],
        # every event at the SAME instant: the worst case for any
        # time-tiebreak assumption
        "events": [
            # user_id NULL every 13th row: rank tie-breaks on a NULL
            # key are where Spark (ASC = NULLS FIRST) and DuckDB
            # (default NULLS LAST) silently disagree unless the
            # oracle pins NULLS FIRST — caught a26's ordering gap.
            (i, D(2024, 1, 1), None if i % 13 == 0 else i % 3,
             None if i % 11 == 0
             else ["view", "click", "purchase", "signup", "error"][i % 5],
             None if i % 4 == 0 else float(i % 7) - 3.0, '{"k":1}')
            for i in range(30)
        ],
        "documents": [
            # NULL lang every 7th / NULL source every 5th doc: NULL
            # quasi-identifiers and target predicates are where
            # equi-joins silently drop rows and nullable booleans
            # diverge between Spark's NULL-skipping SUM and DuckDB's
            # CASE ELSE (the k-anonymity and DSIR null-safe fixes);
            # every document oracle must hash-match through them.
            # NULL text (and n_chars) every 6th doc — co-prime with
            # the lang/source cycles, so payload-less rows carry both
            # present and NULL metadata (the NULL-payload hardening set).
            (i,
             None if i % 6 == 0 else texts[i % len(texts)],
             None if i % 7 == 0 else "xx",
             None if i % 5 == 0 else f"src{i % 2}",
             None if i % 6 == 0 else len(texts[i % len(texts)]))
            for i in range(21)
        ],
        # NULL embedding every 5th vector (offset from the %3 zero
        # vectors, so zero and absent vectors coexist).
        "embeddings": [
            (i, None if i % 5 == 0 else _vec(i), i % 2) for i in range(16)
        ],
    }


def _write_star(root, rows):
    """One parquet file per star table, typed by ``schemas.STAR``."""
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
    return root


@pytest.fixture(scope="module")
def patho_dir(tmp_path_factory):
    return _write_star(
        str(tmp_path_factory.mktemp("patho_star")), _pathological_rows()
    )


def test_oracles_match_on_pathological_data(spark, patho_dir):
    from tests.conftest import parallel_sweep

    reg, orc = registry(), oracles()
    con = duck_con(patho_dir)
    try:
        # each worker compares through its own DuckDB cursor (cursors
        # share the parent connection's view catalog and are the
        # documented concurrency mechanism); the Spark side overlaps
        # per §2.6 like the other registry sweeps
        def check(name):
            cur = con.cursor()
            try:
                res = compare(reg[name](spark, patho_dir), cur, orc[name])
            finally:
                cur.close()
            assert res["match"], {
                k: v for k, v in res.items() if k != "match"
            }

        mismatches = parallel_sweep(
            [n for n in sorted(orc) if n not in PRECONDITION_VIOLATED],
            check,
        )
        assert not mismatches, mismatches
    finally:
        con.close()


def test_precondition_violations_still_execute(spark, patho_dir):
    # the excluded ops may legitimately diverge from their oracle on
    # this data, but they must still RUN without error
    reg = registry()
    for name in sorted(PRECONDITION_VIOLATED):
        assert reg[name](spark, patho_dir).count() >= 0, name


@pytest.fixture(scope="module")
def skew_dir(tmp_path_factory):
    """Degenerate-key variant: ONE user owns every event, ONE label
    owns every embedding (with duplicate zero vectors), timestamps
    unique, and fewer distinct vectors than codebook entries."""
    rows = _pathological_rows()
    rows["events"] = [
        (i, datetime.datetime(2024, 1, 1, 0, 0, i % 60, i), 0,
         ["view", "click", "purchase", "signup", "error"][i % 5],
         None if i % 4 == 0 else float(i % 7) - 3.0, '{"k":1}')
        for i in range(30)
    ]
    rows["embeddings"] = [(i, _vec(i), 0) for i in range(16)]
    return _write_star(str(tmp_path_factory.mktemp("skew_star")), rows)


def test_every_query_executes_under_total_key_skew(spark, skew_dir):
    from tests.conftest import parallel_sweep

    reg = registry()
    failures = parallel_sweep(
        reg, lambda name: reg[name](spark, skew_dir).count()
    )
    assert not failures, failures

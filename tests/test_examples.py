"""Every example must keep running end to end — examples rot unless
executed."""

import os
import runpy
import sys

import pytest

REF = "/root/reference/complete.csv"


def test_corpus_curation_runs(spark, tmp_path, capsys):
    mod = runpy.run_path(
        os.path.join(
            os.path.dirname(os.path.dirname(__file__)),
            "examples",
            "corpus_curation.py",
        ),
        run_name="corpus_curation",
    )
    mod["main"]("/root/testdata/sf0.001", str(tmp_path / "out"))
    out = capsys.readouterr().out
    assert "map-side gates: 500 raw -> 242 past gopher+blocklist" in out
    assert (
        "exact-substring strip: excised 2067 duplicated span tokens "
        "from 26 docs" in out
    )
    # 210 survivors vs 195 before the strip stage landed: 15 docs that
    # clustered ONLY through shared boilerplate spans now survive on
    # their own content — the strip's intended effect on the funnel.
    assert "curated 500 raw documents -> 210 kept" in out
    assert "split sizes: {'test': 18, 'train': 171, 'val': 21}" in out
    assert "packed into 61 chunks" in out
    assert (
        "dsir selection vs the en target: top 50 raw docs, "
        "weight floor -425592 micros" in out
    )
    assert "pps review sample: 100 docs" in out
    # deterministic stages (md5 weights/shuffle keys, fixed
    # data), pinned exactly
    assert "linear quality model: 135/500 docs past the gate" in out
    assert "mixture audit: most divergent source = src18" in out
    assert "curriculum stages: {1: 125, 2: 125, 3: 125, 4: 125}" in out


@pytest.mark.skipif(not os.path.exists(REF), reason="reference snapshot not mounted")
def test_quickstart_runs(spark, tmp_path, capsys):
    sys.modules.pop("examples.quickstart", None)
    mod = runpy.run_path(
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "examples", "quickstart.py"),
        run_name="quickstart",
    )
    mod["main"](REF, str(tmp_path / "out"))
    out = capsys.readouterr().out
    assert "cleaned rows: 26373 across 187 countries" in out
    assert "partition-pruned Netherlands read: 152 rows" in out
    assert "transfer simulation" in out


def test_event_analytics_runs(spark, tmp_path, capsys):
    mod = runpy.run_path(
        os.path.join(
            os.path.dirname(os.path.dirname(__file__)),
            "examples",
            "event_analytics.py",
        ),
        run_name="event_analytics",
    )
    mod["main"]("/root/testdata/sf0.001", str(tmp_path / "out"))
    out = capsys.readouterr().out
    assert "events            : 1000" in out
    assert (
        "mg summary        : 39 counters kept, total undercount 490, "
        "bound held: True" in out
    )
    assert "scd2 history      : 1000 versions, 75 current keys, deepest chain 21" in out
    assert "sessions          : 492" in out
    assert "funnel depth hist : {5: 15}" in out
    assert "hourly rollup rows: 868" in out


def test_similarity_search_runs(spark, capsys):
    mod = runpy.run_path(
        os.path.join(
            os.path.dirname(os.path.dirname(__file__)),
            "examples",
            "similarity_search.py",
        ),
        run_name="similarity_search",
    )
    mod["main"]("/root/testdata/sf0.001")
    out = capsys.readouterr().out
    # Structural figures are deterministic (portable hashes, LCG
    # planes, md5-sampled codebook, fixed data) and pinned exactly.
    assert "brute-force top-5 neighbors for 8 queries over 500 vectors: 40 pairs" in out
    assert "knn graph: 2500 edges across 10 label blocks" in out
    assert "nearest-centroid assignment: 500 vectors quantized" in out
    assert "pq codes: 4000 (500 vectors x 8 subspaces)" in out
    assert "pagerank: 500 nodes, total mass 500000000" in out
    # graph-analytics companions: counts are threshold crossings over
    # 6dp-rounded cosines on fixed data — deterministic, pinned exactly
    assert "triangle census: 468 of 500 vertices close a triangle" in out
    assert "k-core peel (mutual knn): 403 in core, 96 peeled" in out
    # the beam walk's found@top-5 on the concentration-regime corpus:
    # assert the floor (beam-1 measured 0), not the exact figure
    line = next(l for l in out.splitlines() if l.startswith("graph beam search"))
    assert int(line.split(":")[1].strip().split(" ")[0]) >= 1
    assert "embedding near-dup pairs at cosine >= 0.4: 5" in out
    # the rerank recall and the LPA/outlier counts are
    # threshold/rank crossings over 6dp cosines on fixed data — pinned
    assert "two-stage rerank recall vs brute force: 0.375" in out
    assert "lpa communities: 48 (largest 47 vectors)" in out
    assert "centroid-distance outliers: 21/500 flagged" in out
    # structural figure (cell count) exact; the kept count is a
    # threshold crossing over 6dp-rounded cosines on fixed data, so it
    # is deterministic too — pinned exactly, like the pair count above
    assert "semdedup at cosine >= 0.3: 426 of 500 kept across 10 cells" in out
    # Recall figures assert a tolerance band, not the exact decimal:
    # a Spark version change in hash/sort-null ordering would shift
    # the last digit and should read as environment drift, not a
    # recall regression. The hash-checked driver
    # path still pins these computations exactly.
    def recall_of(prefix: str) -> float:
        line = next(l for l in out.splitlines() if l.startswith(prefix))
        return float(line.rsplit(":", 1)[1])

    assert recall_of("lsh ann recall") >= 0.7
    assert recall_of("ivf ann recall vs") >= 0.7
    # training the codebook (3 Lloyd rounds) must not lose recall at
    # the same probe budget
    assert recall_of("ivf ann recall with 3-round") >= recall_of(
        "ivf ann recall vs"
    )
    # coarse-quantizer paths on a near-uniform corpus: far above the
    # 5/500 = 0.01 random baseline is the honest bar (see
    # test_ann.py for the separable-data quality pin)
    assert recall_of("flat adc recall") >= 0.05
    assert recall_of("ivf-pq recall") >= 0.05
    # bucket pre-flight: structure may drift with corpus/hash tweaks;
    # what must hold is a healthy index (many buckets, none capped)
    line = next(l for l in out.splitlines() if "bucket pre-flight" in l)
    assert "0 over the cap" in line
    n_buckets = int(line.split(":")[1].strip().split(" ")[0])
    assert n_buckets > 500


def test_sql_interface_runs(spark, capsys):
    mod = runpy.run_path(
        os.path.join(
            os.path.dirname(os.path.dirname(__file__)),
            "examples",
            "sql_interface.py",
        ),
        run_name="sql_interface",
    )
    mod["main"]("/root/testdata/sf0.001")
    out = capsys.readouterr().out
    assert "base views: 10 tables; lineitem rows: 6000" in out
    # view count tracks the registry — derive, don't hard-code;
    # registration excludes the ingest family's staging sinks
    from covid_engineering_spark.queries import SIDE_EFFECTING, registry

    n_pure = len(registry()) - len(SIDE_EFFECTING)
    assert f"query views: {n_pure} registered (all lazy" in out
    assert "anomalous hourly buckets (via q_ts_anomaly): 16" in out
    assert "cluster survivors via two-view SQL join: 21 clusters" in out
    assert "dataframe face and SQL face agree" in out


def test_streaming_pipeline_runs(spark, tmp_path, capsys):
    mod = runpy.run_path(
        os.path.join(
            os.path.dirname(os.path.dirname(__file__)),
            "examples",
            "streaming_pipeline.py",
        ),
        run_name="streaming_pipeline",
    )
    mod["main"]("/root/testdata/sf0.001", str(tmp_path / "out"))
    out = capsys.readouterr().out
    assert "staged 1143 event arrivals (incl. redeliveries)" in out
    assert "tumbling stream ≡ batch: 531 windows, 1143 events" in out
    assert "streaming dedup: 1143 arrivals -> 1000 unique events" in out
    assert "stream-static enrich ≡ batch: 4 segments" in out
    assert "stateful totals: 15 users, 1143 events folded" in out
    # ingestion-time near-dup via foreachBatch against the
    # standing index (portable hashes, fixed data — deterministic)
    assert (
        "streaming near-dup vs standing index: 11 pairs across "
        "100 arriving docs" in out
    )

"""The committed fixture corpus (round 3): pure-Python cache
determinism/idempotence, and TableIO resume for the Spark-committed
extraction tables (VERDICT r2 item 4)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from amazon_textract_enhancer_spark import fixture_cache as fc

SF_DIR = "/root/testdata/sf0.01"  # → n_convs 40


def test_cache_idempotent_and_deterministic():
    d = fc.ensure_fixture_cache(40)
    assert os.path.exists(os.path.join(d, "_SUCCESS"))
    stamps = {f: os.path.getmtime(os.path.join(d, f))
              for f in ("transcripts.parquet", "spans.parquet",
                        "blocks.parquet", "nodes.parquet")}
    # second call is a no-op: no file is rewritten
    assert fc.ensure_fixture_cache(40) == d
    for f, m in stamps.items():
        assert os.path.getmtime(os.path.join(d, f)) == m, f


def test_cache_content_matches_oracle_extraction():
    """spans.parquet must BE the single-node-oracle output for the
    seed-42 corpus — the independence of the DuckDB twins rests on
    this file never being produced by Spark."""
    import pyarrow.parquet as pq

    from amazon_textract_enhancer_spark.fixtures import generate_transcripts
    from amazon_textract_enhancer_spark.oracle import extract_rows

    d = fc.ensure_fixture_cache(40)
    rows, _ = generate_transcripts(seed=fc.SEED, n_convs=40,
                                   whale_cap=fc.WHALE_CAP)
    want = extract_rows(rows)
    got = pq.read_table(os.path.join(d, "spans.parquet")).to_pylist()
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert (g["conv_id"], g["turn_idx"]) == (w["conv_id"], w["turn_idx"])
        assert g["extracted_text"] == w["extracted_text"]
        assert g["kind"] == w["kind"]
        assert len(g["tables"]) == len(w["tables"])


def test_committed_spans_resume_no_reextraction(spark, monkeypatch):
    """Later fixture_spans / fixture_blocks / fixture_nodes calls for the
    same (seed, sf) must hit the TableIO manifests and NEVER re-run the
    extraction stage."""
    from amazon_textract_enhancer_spark.operators import extraction_queries as xq

    fixtures = (xq.fixture_spans, xq.fixture_blocks, xq.fixture_nodes)
    n1 = [f(spark, SF_DIR).count() for f in fixtures]  # ensures the commits

    def boom(*a, **k):
        raise AssertionError("extract stage re-ran despite committed manifest")

    monkeypatch.setattr(
        "amazon_textract_enhancer_spark.operators.extraction_queries.extract_turns",
        boom,
    )
    n2 = [f(spark, SF_DIR).count() for f in fixtures]
    assert n1 == n2
    assert n1[0] == 900


def test_cold_fixture_build_extracts_once(spark, monkeypatch, tmp_path):
    """A cold build of all three extraction tables runs ONE extraction
    pass (one mapInArrow), not one per table, and frees its checkpoint."""
    from amazon_textract_enhancer_spark.operators import extraction_queries as xq

    def stored() -> set[int]:
        return {int(i.id()) for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    monkeypatch.setattr(fc, "CACHE_ROOT", str(tmp_path / "cache"))
    sf_dir = "sf0.002"  # n_convs_for → 8
    fc.ensure_fixture_cache(8)
    before = stored()
    cls = type(spark.range(1))
    orig = cls.mapInArrow
    calls = []

    def spy(self, *a, **k):
        calls.append(1)
        return orig(self, *a, **k)

    monkeypatch.setattr(cls, "mapInArrow", spy)
    counts = [f(spark, sf_dir).count()
              for f in (xq.fixture_spans, xq.fixture_blocks, xq.fixture_nodes)]
    assert len(calls) == 1
    assert stored() <= before
    want = {t: len(pq.read_table(fc.table_path(8, t)))
            for t in ("spans", "blocks", "nodes")}
    assert counts == [want["spans"], want["blocks"], want["nodes"]]


def test_committed_long_tables_equal_oracle(spark):
    """The committed blocks_long / nodes_long are full-row equal (as
    multisets) to the pure-Python reference tables the oracle writes."""
    from amazon_textract_enhancer_spark.operators import extraction_queries as xq

    for build, table in ((xq.fixture_blocks, "blocks"), (xq.fixture_nodes, "nodes")):
        got = build(spark, SF_DIR)
        want = spark.read.parquet(fc.table_path(40, table)).select(*got.columns)
        assert got.count() == want.count() > 0, table
        assert got.exceptAll(want).count() == 0, table
        assert want.exceptAll(got).count() == 0, table


def test_cold_start_with_preexisting_warehouse(spark, monkeypatch, tmp_path):
    """VERDICT r3 item 1: on a clean tree, TableIO used to eagerly
    create ``cache_dir(n)/warehouse`` BEFORE the pure-Python cache
    published, and the whole-dir os.replace then crashed with
    ENOTEMPTY. The per-file publish + ensure-before-TableIO order must
    make the flagship query green from a completely cold cache root,
    even with warehouse/ pre-created."""
    from amazon_textract_enhancer_spark.operators import extraction_queries as xq

    monkeypatch.setattr(fc, "CACHE_ROOT", str(tmp_path / "cache"))
    # the historical trigger: warehouse dir already inside the cache dir
    os.makedirs(os.path.join(fc.cache_dir(8), "warehouse"))

    out = xq.x_extract_spans(spark, "/root/testdata/sf0.002")  # n=8
    assert out.count() > 0
    assert os.path.exists(os.path.join(fc.cache_dir(8), "_SUCCESS"))
    # the pre-existing warehouse dir (now holding committed tables)
    # survived publication
    assert os.path.isdir(os.path.join(fc.cache_dir(8), "warehouse"))


def test_cold_start_after_rm_rf(spark, monkeypatch, tmp_path):
    """rm -rf of the cache dir (the gitignored state of any clean
    clone) followed by a first x_* call must rebuild and pass."""
    import shutil

    from amazon_textract_enhancer_spark.operators import extraction_queries as xq

    monkeypatch.setattr(fc, "CACHE_ROOT", str(tmp_path / "cache"))
    n1 = xq.x_extract_spans(spark, "/root/testdata/sf0.002").count()
    shutil.rmtree(fc.cache_dir(8))
    n2 = xq.x_extract_spans(spark, "/root/testdata/sf0.002").count()
    assert n1 == n2 > 0


def test_orphan_tmp_reaped_fresh_tmp_kept(monkeypatch, tmp_path):
    """Crashed-writer tmp dirs (mtime before this process imported the
    module) are reaped at ensure entry; a live writer's tmp (recent
    mtime) is left alone."""
    monkeypatch.setattr(fc, "CACHE_ROOT", str(tmp_path / "cache"))
    d = fc.cache_dir(8)
    os.makedirs(os.path.dirname(d), exist_ok=True)
    stale = d + ".tmp-deadbeefcafe"
    fresh = d + ".tmp-0123456789ab"
    os.makedirs(stale)
    os.makedirs(fresh)
    old = fc._IMPORT_TIME - 3600
    os.utime(stale, (old, old))

    fc.ensure_fixture_cache(8)
    assert not os.path.exists(stale), "crashed-writer tmp not reaped"
    assert os.path.exists(fresh), "live-writer tmp wrongly reaped"
    assert os.path.exists(os.path.join(d, "_SUCCESS"))


def test_publish_survives_preexisting_destination(monkeypatch, tmp_path):
    """ensure_fixture_cache with a pre-existing, _SUCCESS-less
    destination dir (stray files inside) publishes per-file and leaves
    the stray content untouched."""
    monkeypatch.setattr(fc, "CACHE_ROOT", str(tmp_path / "cache"))
    d = fc.cache_dir(8)
    os.makedirs(os.path.join(d, "warehouse", "some_table"))
    with open(os.path.join(d, "warehouse", "some_table", "x"), "w") as f:
        f.write("keep me")

    out = fc.ensure_fixture_cache(8)
    assert out == d
    assert os.path.exists(os.path.join(d, "_SUCCESS"))
    assert os.path.exists(os.path.join(d, "transcripts.parquet"))
    with open(os.path.join(d, "warehouse", "some_table", "x")) as f:
        assert f.read() == "keep me"
    # no tmp leftovers after a clean publish
    leftovers = [p for p in os.listdir(os.path.dirname(d))
                 if p.startswith(os.path.basename(d) + ".tmp-")]
    assert leftovers == []


def test_fixture_transcripts_distributed_branch(spark, monkeypatch, tmp_path):
    """Above the size threshold, fixture_transcripts must generate
    DISTRIBUTED (per-conv-seeded mapInArrow) and commit via TableIO,
    resuming from the manifest on the second call — no driver-side
    generation. Exercised with a lowered threshold + isolated cache
    root so the real small-sf cache is untouched."""
    from amazon_textract_enhancer_spark.operators import extraction_queries as xq

    monkeypatch.setattr(fc, "CACHE_ROOT", str(tmp_path / "cache"))
    monkeypatch.setattr(xq, "_DISTRIBUTED_GEN_MIN_CONVS", 30)

    df1 = xq.fixture_transcripts(spark, SF_DIR)  # n=40 > 30 → distributed
    n1 = df1.count()
    assert n1 > 300
    assert sorted(df1.columns) == sorted(
        ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    # committed via TableIO: manifest present, second call resumes
    io, snapshot = xq._fixture_io(40)
    assert io.is_committed("transcripts", snapshot, xq._FIXTURE_CFG)

    def boom(*a, **k):
        raise AssertionError("re-generated despite committed manifest")

    monkeypatch.setattr(
        "amazon_textract_enhancer_spark.fixtures"
        ".generate_transcripts_distributed", boom,
    )
    assert xq.fixture_transcripts(spark, SF_DIR).count() == n1

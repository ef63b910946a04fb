"""The two closed-loop workloads: ``ingest`` (writes) and ``serve`` (reads).

Each workload has the same shape:

* ``setup_rep(r)`` runs a fixed warm-up on the workload's inputs; the
  first set-up also builds them from the seed (and, for serve, commits
  the tables). The run calls it ``SETUP_REPS`` times and reports
  the median wall as ``setup_s``, so work moved into set-up shows, and
  every timed op comes after the same amount of warm-up.
* ``op(i)`` returns ``(kind, params, thunk)`` for the i-th timed op;
  the thunk's return value is what ``check_op`` verifies.
* ``final_checks()`` verifies the outputs once after the timed loop.
"""

from __future__ import annotations

import os
import random
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from amazon_textract_enhancer_spark import oracle
from amazon_textract_enhancer_spark.pipeline import run_extraction_pipeline
from amazon_textract_enhancer_spark.schemas import EXTRACTED_SPANS_SCHEMA

import inputs
from serving_ops import OPS, ServingMix

# Sizes are set by the run budget (README.md): a run must fit in about
# a minute including session start and a cold first pipeline.
INGEST_TURNS = 4000
SERVE_TURNS = 2000
N_BUCKETS = 4
SETUP_REPS = 3
# Warm-up per set-up. In a fresh process the first pipeline run is 4-5x
# a warm one and the next three are 20-40% over it; later runs drift
# down by a few per cent each (4-vCPU VM, 4k turns: 18.5, 6.2, 5.3, 5.3,
# 4.5, 4.4, 4.1, 3.9 s). The first set-up runs it once, cold; the others
# run it once each, so ingest times runs four to six and their median
# lies past the steep part. Two runs per set-up (timing from the sixth)
# cost 9 s more per run, which the evaluation budget of 4 + 22 x 2 runs
# in 3420 s cannot carry.
INGEST_WARM_RUNS = 1
SERVE_WARM_ROUNDS = 2
ORACLE_SAMPLE = 64
COMMITTED = ("extracted_spans", "conv_rollup", "tokens", "doc_lengths", "corpus_stats")


def table_files(warehouse: str, table: str) -> list[str]:
    d = os.path.join(warehouse, table, "data")
    return [os.path.join(d, f) for f in os.listdir(d) if f.startswith("part-")]


def committed_bytes(warehouse: str) -> dict[str, tuple[int, int]]:
    """table -> (bytes, files) of the committed data files."""
    out = {}
    for t in COMMITTED:
        files = table_files(warehouse, t)
        out[t] = (sum(os.path.getsize(f) for f in files), len(files))
    return out


class Workload:
    name = ""
    n_turns = 0

    def __init__(self, spark, run_dir: str, seed: int):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.rows: list[dict] = []
        self.input_path = ""
        self.input_bytes = 0
        self.stored_ratio: list[float] = []

    def build_inputs(self) -> None:
        self.rows = inputs.transcript_rows(self.seed, self.n_turns)
        self.input_path = os.path.join(self.run_dir, "transcripts.parquet")
        self.input_bytes = inputs.write_transcripts(self.rows, self.input_path)
        self.transcripts = self.spark.read.parquet(self.input_path)

    def pipeline(self, warehouse: str) -> dict:
        return run_extraction_pipeline(
            self.spark, self.transcripts, warehouse, n_buckets=N_BUCKETS
        )

    def record_stored(self, warehouse: str) -> None:
        stored = sum(b for b, _ in committed_bytes(warehouse).values())
        self.stored_ratio.append(stored / self.input_bytes)


class Ingest(Workload):
    """Each op runs the full 4-stage pipeline into a fresh warehouse."""

    name = "ingest"
    n_turns = INGEST_TURNS

    def setup_rep(self, r: int) -> None:
        if r == 0:
            self.build_inputs()
        wh = os.path.join(self.run_dir, "wh-warm")
        for _ in range(1 if r == 0 else INGEST_WARM_RUNS):
            shutil.rmtree(wh, ignore_errors=True)
            self.pipeline(wh)

    def op(self, i: int):
        wh = os.path.join(self.run_dir, f"wh-{i % 2}")
        shutil.rmtree(wh, ignore_errors=True)
        self.last_wh = wh
        return "pipeline", wh, lambda: self.pipeline(wh)

    def check_op(self, kind, wh, out) -> str | None:
        self.record_stored(wh)
        rows = out["extracted_spans"]["rows"]
        if rows != len(self.rows):
            return f"manifest rows {rows} != input turns {len(self.rows)}"
        return None

    def final_checks(self) -> list[str]:
        """A seeded sample of committed spans equals the single-node
        oracle on the same turns."""
        from pyspark.sql.pandas.types import to_arrow_schema

        rng = random.Random(f"oracle|{self.seed}")
        sample = rng.sample(self.rows, min(ORACLE_SAMPLE, len(self.rows)))
        keys = ["conv_id", "turn_idx"]
        cols = keys + ["kind", "extracted_text", "tables", "forms", "counters"]
        arrow = to_arrow_schema(EXTRACTED_SPANS_SCHEMA)
        schema = pa.schema([arrow.field(c) for c in cols])
        want = pa.Table.from_pylist(
            [{c: s[c] for c in cols} for s in oracle.extract_rows(sample)], schema=schema
        ).to_pylist()
        got_tbl = pq.read_table(
            os.path.join(self.last_wh, "extracted_spans", "data"), columns=cols
        )
        wanted = {(s["conv_id"], s["turn_idx"]) for s in sample}
        got = {
            (g["conv_id"], g["turn_idx"]): g
            for g in got_tbl.to_pylist()
            if (g["conv_id"], g["turn_idx"]) in wanted
        }
        bad = [w for w in want if got.get((w["conv_id"], w["turn_idx"])) != w]
        return [f"{len(bad)} of {len(want)} sampled spans differ from the oracle"] if bad else []


class Serve(Workload):
    """Tables are committed in set-up; each op is one serving query of
    the fixed round-robin, and its rows are collected."""

    name = "serve"
    n_turns = SERVE_TURNS

    def setup_rep(self, r: int) -> None:
        # the tables are committed once; every set-up opens them and
        # warms the read path with whole rounds of the mix
        if r == 0:
            self.build_inputs()
            self.last_wh = os.path.join(self.run_dir, "wh-serve")
            self.pipeline(self.last_wh)
            self.record_stored(self.last_wh)
        wh = self.last_wh
        self.mix = ServingMix(self.spark, wh, self.rows, self.seed)
        self.first: dict[str, tuple] = {}
        for i in range(SERVE_WARM_ROUNDS * len(OPS)):
            kind, p, thunk = self.op(i)
            thunk()

    def op(self, i: int):
        kind = OPS[i % len(OPS)]
        p = self.mix.param(kind, i // len(OPS))
        return kind, p, lambda: self.mix.frame(kind, p).collect()

    def check_op(self, kind, params, out) -> str | None:
        # the first answer of each op kind is checked against DuckDB
        if kind in self.first:
            return None
        self.first[kind] = (params, out)
        return None

    def final_checks(self) -> list[str]:
        con = duckdb.connect()
        try:
            errs = [self.mix.check(con, k, p, out) for k, (p, out) in self.first.items()]
        finally:
            con.close()
        return [e for e in errs if e]


WORKLOADS = {"ingest": Ingest, "serve": Serve}

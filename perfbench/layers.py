"""The traced run's layer sweep.

After the workload's own traced loop, every traced run measures each
layer once, on the workload's own corpus, through the same public
functions the workloads call:

* ``core``     - ``core.extract_turn`` in this process, single-threaded,
                 grouped by ``core.sniff.sniff_kind``;
* ``stages``   - noop-sink passes over input cached once: an identity
                 ``mapInArrow`` (the Arrow-boundary floor), then
                 ``extract_spans`` / ``extract_blocks_long`` /
                 ``extract_nodes_long``;
* ``pipeline`` - one ``run_extraction_pipeline`` into a fresh warehouse;
* ``tableio``  - ``TableIO.commit_stage`` of already-extracted spans, and
                 ``TableIO.read_table`` into a noop sink;
* ``serving``  - each serving op of the read mix, three times;
* ``curate``   - one pass of five curation/dedup/similarity registry
                 queries over seeded documents and embeddings.

Every Spark op runs under its own job group and wall window, so the
event log attributes jobs and task time to it exactly. Plan-shape
counts are taken from the physical plan before the op executes.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import duckdb

from amazon_textract_enhancer_spark.core import extract_turn
from amazon_textract_enhancer_spark.core.sniff import sniff_kind
from amazon_textract_enhancer_spark.operators.registry import ORACLE_SQL, SPARK_QUERIES
from amazon_textract_enhancer_spark.sources.tableio import TableIO
from amazon_textract_enhancer_spark.stages import (
    extract_blocks_long,
    extract_nodes_long,
    extract_spans,
)

import inputs
import sparkenv
from serving_ops import OPS, ServingMix, canon_rows
from workloads import COMMITTED, N_BUCKETS, committed_bytes

KINDS = ("html", "layout", "plain")
SERVE_REPS = 3
CURATE_DOCS = 500
CURATE_VECS = 500
# c5_search_bm25_batch is left out: on some seeds (12, 40783501) its
# scores differ from its ORACLE_SQL twin by 1e-4. The exact DECIMAL sum
# lies on a 4-dp half (2.37395): Spark rounds it half up to 2.3740, the
# twin rounds the double and gets 2.3739. The pair disagrees inside the
# package, so a run with it is incorrect on those seeds; it goes back
# in once the twin rounds the exact decimal.
CURATE_QUERIES = (
    "curation_funnel",
    "text_quality_lr",
    "dedup_survivors",
    "dedup_simhash_pairs",
    "embed_kmeans",
)
# dedup_simhash_pairs has no SQL twin; every pair it emits is exactly
# verified, so its rows are a subset of the exact 3-gram Jaccard pairs
SIMHASH_BOUND_TWIN = "dedup_ngram_jaccard"

# (name, unit) of every per-layer metric a traced run reports
PER_LAYER = (
    [(f"core.{k}_us_per_turn", "us") for k in KINDS]
    + [("core.turns_per_s", "1/s"), ("spark.empty_job_ms", "ms")]
    + [(f"stages.{p}_s", "s") for p in
       ("identity", "extract_spans", "extract_blocks_long", "extract_nodes_long")]
    + [("stages.slot_vs_core_ratio", "ratio"),
       ("stages.py_bytes_sent_per_turn", "B"),
       ("stages.py_bytes_returned_per_turn", "B"),
       ("tableio.commit_s", "s"), ("tableio.read_table_s", "s")]
    + [(f"tableio.bytes_written.{t}", "B") for t in COMMITTED]
    + [(f"tableio.files_written.{t}", "count") for t in COMMITTED]
    + [(f"pipeline.{s}_s", "s") for s in
       ("extracted_spans", "derived_level", "tokens", "conv_rollup", "corpus_stats")]
    + [("pipeline.jobs", "count"), ("pipeline.executor_run_s", "s"),
       ("pipeline.jvm_gc_s", "s")]
    + [(f"serving.{op}.{m}", u) for op in OPS for m, u in
       (("p50_ms", "ms"), ("jobs", "count"), ("scans", "count"),
        ("exchanges", "count"), ("rows_scanned_per_row_returned", "ratio"),
        ("executor_run_s", "s"))]
    + [(f"curate.{q}_s", "s") for q in CURATE_QUERIES]
    + [(f"curate.{q}.{m}", u) for q in CURATE_QUERIES for m, u in
       (("jobs", "count"), ("scans", "count"), ("exchanges", "count"),
        ("shuffle_bytes", "B"), ("spill_bytes", "B"), ("executor_run_s", "s"))]
    + [("curate.pass_s", "s"), ("curate.jvm_gc_s", "s"),
       ("curate.cached_bytes_after_pass", "B")]
    + [("op.executor_run_s", "s"), ("trace.overhead_frac", "frac"),
       ("mem.driver_peak_rss_mb", "MB")]
)


class Sweep:
    def __init__(self, spark, clock: sparkenv.OpClock, wl, run_dir: str, seed: int):
        self.spark = spark
        self.clock = clock
        self.wl = wl
        self.run_dir = run_dir
        self.seed = seed
        self.metrics: dict[str, float] = {}
        self.counts: dict[str, dict] = {}  # op label -> plan-shape counts
        self.groups: dict[str, list[str]] = {}  # metric prefix -> op labels
        self.errors: list[str] = []
        self.attempted = 0

    def _frame_op(self, label: str, build, execute):
        """Build (timed), count the plan (untimed), execute (timed).
        Some registry queries run jobs while being built, so build time
        and build jobs belong to the op."""
        self.attempted += 1
        df, t_build, ok = self.clock.run(label + ":build", build)
        if not ok:
            self.errors.append(f"{label}: {self.clock.records[-1].error}")
            return None, None, None
        self.counts[label] = sparkenv.plan_counters(df)
        out, t_run, ok = self.clock.run(label, lambda: execute(df))
        if not ok:
            self.errors.append(f"{label}: {self.clock.records[-1].error}")
            return None, None, None
        self.groups[label] = [label + ":build", label]
        return df, out, t_build + t_run

    # -- core -----------------------------------------------------------
    def core(self) -> dict:
        spent = {k: 0.0 for k in KINDS}
        n = {k: 0 for k in KINDS}
        blocks = nodes = 0
        for r in self.wl.rows:
            kind = sniff_kind(r["text"])
            t0 = time.perf_counter()
            res = extract_turn(f"{r['conv_id']}|{r['turn_idx']}", r["text"])
            spent[kind] += time.perf_counter() - t0
            n[kind] += 1
            blocks += len(res["blocks"])
            nodes += len(res["nodes"])
        for k in KINDS:
            self.metrics[f"core.{k}_us_per_turn"] = spent[k] / max(1, n[k]) * 1e6
        self.metrics["core.turns_per_s"] = sum(n.values()) / sum(spent.values())
        return {"blocks": blocks, "nodes": nodes}

    # -- stages ---------------------------------------------------------
    def stages(self, expected: dict) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        cached = self.wl.transcripts.repartition(sparkenv.SLOTS).cache()
        cached.count()
        src = cached.select("conv_id", "turn_idx", "role", "ts", "text")
        probes = {
            "identity": lambda: src.mapInArrow(lambda batches: batches, src.schema),
            "extract_spans": lambda: extract_spans(cached),
            "extract_blocks_long": lambda: extract_blocks_long(cached),
            "extract_nodes_long": lambda: extract_nodes_long(cached),
        }
        rows_seen = {}
        for name, build in probes.items():
            obs = Observation(name)

            def run(df, obs=obs):
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                    "overwrite"
                ).save()
                return obs.get["n"]

            _, n_out, secs = self._frame_op(f"stages:{name}", build, run)
            if secs is None:
                continue
            rows_seen[name] = n_out
            self.metrics[f"stages.{name}_s"] = secs
        cached.unpersist()
        want = {
            "identity": len(self.wl.rows),
            "extract_spans": len(self.wl.rows),
            "extract_blocks_long": expected["blocks"],
            "extract_nodes_long": expected["nodes"],
        }
        for name, n in want.items():
            if name in rows_seen and rows_seen[name] != n:
                self.errors.append(f"stages:{name}: {rows_seen[name]} rows, core says {n}")
        if "stages.extract_spans_s" in self.metrics:
            per_slot = len(self.wl.rows) / self.metrics["stages.extract_spans_s"] / sparkenv.SLOTS
            self.metrics["stages.slot_vs_core_ratio"] = per_slot / self.metrics["core.turns_per_s"]

    # -- pipeline + tableio --------------------------------------------
    def pipeline(self) -> str:
        wh = os.path.join(self.run_dir, "wh-sweep")
        self.attempted += 1
        m, secs, ok = self.clock.run("sweep:pipeline", lambda: self.wl.pipeline(wh))
        if not ok:
            self.errors.append(f"sweep:pipeline: {self.clock.records[-1].error}")
            return wh
        self.groups["pipeline"] = ["sweep:pipeline"]
        st = m["_stage_seconds"]
        for s in ("extracted_spans", "derived_level", "tokens", "conv_rollup", "corpus_stats"):
            self.metrics[f"pipeline.{s}_s"] = float(st[s])
        for t, (b, f) in committed_bytes(wh).items():
            self.metrics[f"tableio.bytes_written.{t}"] = b
            self.metrics[f"tableio.files_written.{t}"] = f
        return wh

    def tableio(self, wh: str) -> None:
        io = TableIO(wh)
        out = TableIO(os.path.join(self.run_dir, "wh-commit-probe"))

        def commit():
            spans = io.read_table(self.spark, "extracted_spans")
            return out.commit_stage(
                spans, "extracted_spans", "perfbench", "commit-probe",
                bucket_col="conv_id", n_buckets=N_BUCKETS,
            )

        def read():
            io.read_table(self.spark, "extracted_spans").write.format("noop").mode(
                "overwrite"
            ).save()

        for name, fn in (("commit", commit), ("read_table", read)):
            self.attempted += 1
            _, secs, ok = self.clock.run(f"tableio:{name}", fn)
            if ok:
                self.metrics[f"tableio.{name}_s"] = secs
            else:
                self.errors.append(f"tableio:{name}: {self.clock.records[-1].error}")

    # -- serving ----------------------------------------------------------
    def serving(self, wh: str) -> None:
        mix = ServingMix(self.spark, wh, self.wl.rows, self.seed)
        con = duckdb.connect()
        try:
            for kind in OPS:
                lat = []
                for rep in range(SERVE_REPS):
                    p = mix.param(kind, rep)
                    label = f"serving:{kind}:{rep}"
                    df, rows, secs = self._frame_op(
                        label, lambda p=p: mix.frame(kind, p), lambda d: d.collect()
                    )
                    if secs is None:
                        continue
                    lat.append(secs)
                    if rep == 0:
                        self.counts[f"serving:{kind}"] = self.counts[label]
                        self.groups[f"serving.{kind}"] = self.groups[label]
                        scanned = sparkenv.scanned_rows(df)
                        self.metrics[f"serving.{kind}.rows_scanned_per_row_returned"] = (
                            scanned / max(1, len(rows))
                        )
                        err = mix.check(con, kind, p, rows)
                        if err:
                            self.errors.append(err)
                if lat:
                    self.metrics[f"serving.{kind}.p50_ms"] = statistics.median(lat) * 1000
        finally:
            con.close()

    # -- curate -----------------------------------------------------------
    def curate(self) -> None:
        d = os.path.join(self.run_dir, "curate")
        os.makedirs(d, exist_ok=True)
        inputs.write_documents(self.seed, CURATE_DOCS, os.path.join(d, "documents.parquet"))
        inputs.write_embeddings(self.seed, CURATE_VECS, os.path.join(d, "embeddings.parquet"))
        order = list(CURATE_QUERIES)
        random.Random(f"curate|{self.seed}").shuffle(order)
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
                )
            total = 0.0
            for q in order:
                label = f"curate:{q}"
                df, rows, secs = self._frame_op(
                    label, lambda q=q: SPARK_QUERIES[q](self.spark, d), lambda x: x.toPandas()
                )
                if secs is None:
                    continue
                total += secs
                self.metrics[f"curate.{q}_s"] = secs
                err = self._curate_check(con, q, rows)
                if err:
                    self.errors.append(err)
            self.metrics["curate.pass_s"] = total
        finally:
            con.close()
        self.metrics["curate.cached_bytes_after_pass"] = sparkenv.cached_bytes(self.spark)

    @staticmethod
    def _curate_check(con, q: str, pdf) -> str | None:
        if q not in ORACLE_SQL:
            bound = len(con.execute(ORACLE_SQL[SIMHASH_BOUND_TWIN]).fetchall())
            if not 0 < len(pdf) <= bound:
                return f"curate:{q}: {len(pdf)} pairs, exact pairs {bound}"
            return None
        odf = con.execute(ORACLE_SQL[q]).df()
        if sorted(pdf.columns) != sorted(odf.columns):
            return f"curate:{q}: columns differ"
        cols = sorted(pdf.columns)
        got = canon_rows(pdf[cols].itertuples(index=False, name=None), ordered=False)
        want = canon_rows(odf[cols].itertuples(index=False, name=None), ordered=False)
        if len(got) != len(want):
            return f"curate:{q}: {len(got)} rows, twin {len(want)}"
        if got != want:
            return f"curate:{q}: values differ from the twin"
        return None

    def run(self) -> None:
        expected = self.core()
        self.metrics["spark.empty_job_ms"] = sparkenv.empty_job_ms(self.spark)
        wh = self.pipeline()
        self.tableio(wh)
        self.serving(wh)
        self.stages(expected)
        self.curate()

    # -- event-log metrics ----------------------------------------------
    def add_trace_metrics(self, traces: dict[str, sparkenv.OpTrace]) -> None:
        def total(labels, attr):
            return sum(getattr(traces[lb], attr) for lb in labels if lb in traces)

        if "pipeline" in self.groups:
            g = self.groups["pipeline"]
            self.metrics["pipeline.jobs"] = total(g, "jobs")
            for a in ("executor_run_s", "jvm_gc_s"):
                self.metrics[f"pipeline.{a}"] = total(g, a)
        g = self.groups.get("stages:extract_spans")
        if g:
            n = len(self.wl.rows)
            self.metrics["stages.py_bytes_sent_per_turn"] = total(g, "py_bytes_sent") / n
            self.metrics["stages.py_bytes_returned_per_turn"] = (
                total(g, "py_bytes_returned") / n
            )
        for kind in OPS:
            g = self.groups.get(f"serving.{kind}")
            if not g:
                continue
            c = self.counts[f"serving:{kind}"]
            self.metrics[f"serving.{kind}.jobs"] = total(g, "jobs")
            self.metrics[f"serving.{kind}.scans"] = c["scans"]
            self.metrics[f"serving.{kind}.exchanges"] = c["exchanges"]
            self.metrics[f"serving.{kind}.executor_run_s"] = total(g, "executor_run_s")
        for q in CURATE_QUERIES:
            g = self.groups.get(f"curate:{q}")
            if not g:
                continue
            c = self.counts[f"curate:{q}"]
            self.metrics[f"curate.{q}.jobs"] = total(g, "jobs")
            self.metrics[f"curate.{q}.scans"] = c["scans"]
            self.metrics[f"curate.{q}.exchanges"] = c["exchanges"]
            for a in ("shuffle_bytes", "spill_bytes", "executor_run_s"):
                self.metrics[f"curate.{q}.{a}"] = total(g, a)
        # GC over the whole pass: per query it is often exactly 0
        curate_ops = [lb for q in CURATE_QUERIES for lb in self.groups.get(f"curate:{q}", [])]
        if curate_ops:
            self.metrics["curate.jvm_gc_s"] = total(curate_ops, "jvm_gc_s")
        for label, g in self.groups.items():
            if label in self.counts:
                self.counts[label]["jobs"] = total(g, "jobs")

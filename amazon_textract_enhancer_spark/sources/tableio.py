"""F3/F4 — checkpoint/commit with per-partition lineage + counters,
and resume from the last committed stage (SURVEY.md §2.F; the Spark
analog of the reference's idempotent job tokens + SNS-driven restart:
vendor/textract-service-2.json:1553-1558 ClientRequestToken semantics).

Commit protocol (atomic on POSIX rename; crash-safe at every step):

1. write parquet to ``<table>/tmp-<nonce>/`` — a name without a
   leading ``.`` or ``_``, because Spark's file index treats such names
   as hidden and the commit reads its own files back from this dir
2. fsync-equivalent barrier (Spark job completion)
3. **invalidate**: delete ``<table>/_manifest.json`` — from here until
   step 6 the stage is uncommitted, so a crash forces a clean re-run
   instead of a stale manifest pointing at missing/half-swapped data
4. move the previous ``data/`` aside to ``<table>/.old-<nonce>/``
   (rename, not delete — the swap window never has zero copies on disk)
5. ``os.replace`` the tmp dir to ``<table>/data/``
6. write ``<table>/_manifest.json`` (tmp file + ``os.replace``) with
   (stage, input_snapshot, config_hash, rows, per-partition lineage,
   schema). The manifest is the table's schema authority, as table
   metadata is for Iceberg readers: ``read_table`` hands the recorded
   schema to the parquet reader instead of inferring it from file
   footers, and the commit reads its own files back with the frame's
   schema — so neither starts a schema-inference job. Manifests
   written before the schema was recorded have no ``schema`` key and
   are read with inference.
7. delete the ``.old-<nonce>`` dir — or, with ``retain_snapshots > 0``,
   rename it to ``snap-<prev_seq>/`` and record it in the append-only
   ``_snapshots.json`` log: the Iceberg snapshot-history analog, read
   back via ``read_table(..., as_of=seq)`` (``VERSION AS OF``),
   ``rollback_to`` and ``expire_snapshots``. A crash before this step
   leaves ``tmp-*``/``.old-*`` dirs; the next commit of the table
   deletes them (and the ``.tmp-*`` staging dirs of older versions)
   before it writes

A re-run with the same (stage, input_snapshot, config_hash) finds the
manifest and SKIPS the stage — that is the resume path. A killed job
leaves only ``tmp-*``/``.old-*`` dirs (garbage-collected by the next
run) and possibly no manifest (→ re-run); a manifest, when present,
always describes complete data.

On a real cluster the same seam maps to Iceberg snapshot commits
(``iceberg_session_conf``); snapshot ids replace input_snapshot hashes.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST = "_manifest.json"
SNAPLOG = "_snapshots.json"


def iceberg_session_conf(catalog: str = "lake", warehouse: str = "s3://bucket/wh") -> dict:
    """Spark conf for the production Iceberg path (documented, not used
    in-sandbox — no Iceberg runtime jar here)."""
    return {
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "glue",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        "spark.sql.extensions": "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
    }


class TableIO:
    """Parquet-backed table store with atomic manifest commits."""

    def __init__(self, warehouse: str, retain_snapshots: int = 0) -> None:
        """retain_snapshots: how many SUPERSEDED snapshots to keep on
        disk per table (the Iceberg snapshot-retention analog). 0 (the
        default, and the pipeline's setting) keeps only the current
        snapshot — exactly the pre-r4 behavior. With k > 0, the last k
        replaced ``data/`` dirs survive as ``snap-<seq>/`` and are
        readable via ``read_table(..., as_of=seq)`` (time travel) or
        restorable via ``rollback_to`` — the same history surface
        Iceberg exposes as ``VERSION AS OF`` / ``rollback_to_snapshot``,
        emulated on the same commit protocol."""
        self.warehouse = warehouse
        self.retain_snapshots = retain_snapshots
        os.makedirs(warehouse, exist_ok=True)

    # -- paths ----------------------------------------------------------
    def table_path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def data_path(self, name: str) -> str:
        return os.path.join(self.table_path(name), "data")

    def manifest_path(self, name: str) -> str:
        return os.path.join(self.table_path(name), MANIFEST)

    def snaplog_path(self, name: str) -> str:
        return os.path.join(self.table_path(name), SNAPLOG)

    def snap_path(self, name: str, seq: int) -> str:
        return os.path.join(self.table_path(name), f"snap-{seq}")

    # -- manifest -------------------------------------------------------
    def read_manifest(self, name: str) -> dict | None:
        p = self.manifest_path(name)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def read_snaplog(self, name: str) -> list[dict]:
        """Append-only history of committed manifests (newest last) —
        the Iceberg snapshot-log analog. Entries whose data dirs were
        expired stay listed with ``expired: true`` so lineage stays
        auditable after the bytes are gone."""
        p = self.snaplog_path(name)
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return json.load(f)

    def write_manifest(self, name: str, manifest: dict) -> None:
        """Atomically replace the table's manifest (tmp file +
        ``os.replace``): readers see the old or the new one, never a
        partial write."""
        _replace_json(self.manifest_path(name), manifest)

    def is_committed(self, name: str, input_snapshot: str, config_hash: str) -> bool:
        m = self.read_manifest(name)
        return (
            m is not None
            and m.get("input_snapshot") == input_snapshot
            and m.get("config_hash") == config_hash
        )

    # -- commit ---------------------------------------------------------
    def commit_stage(
        self,
        df: DataFrame,
        name: str,
        input_snapshot: str,
        config_hash: str = "v1",
        counter_cols: list[str] | None = None,
        bucket_col: str | None = None,
        n_buckets: int = 8,
        partition_by: str | None = None,
        range_col: str | None = None,
        sort_within: list[str] | None = None,
        extra: dict | None = None,
        pre_bucketed: bool = False,
    ) -> dict:
        """Write ``df`` as stage output ``name``; no-op if the same
        (input_snapshot, config_hash) is already committed (resume).

        counter_cols: numeric columns summed per partition into the
        manifest's lineage block (F4). bucket_col: repartition on this
        column before write — the sandbox emulation of Iceberg
        ``bucket(N, col)`` so downstream per-key work is co-located.
        partition_by: hive-partition the written parquet on this column
        (the sandbox analog of an Iceberg identity partition transform);
        readers filtering on it get static/dynamic partition pruning.
        range_col: RANGE-partition into ``n_buckets`` shards on this
        column instead of hash-bucketing (mutually exclusive with
        bucket_col) — the training-shard export layout: shard k holds a
        contiguous key range, so the shard sequence is globally ordered
        and parquet zone maps (min/max stats) prune range scans.
        sort_within: sort rows inside each written shard on these
        columns (Iceberg ``write.sort-order`` analog); combined with
        range_col this gives a totally ordered export without a global
        sort-merge on read.
        pre_bucketed: the caller asserts ``df`` is ALREADY hash-
        partitioned into ``n_buckets`` partitions on ``bucket_col``
        (an upstream ``repartition(n_buckets, col)`` below only
        partitioning-preserving narrow ops), so the write-side
        repartition is skipped. This is how a producer pushes the
        bucket exchange BELOW an expensive map: Catalyst cannot prove a
        Python map preserves the key column, so without the flag
        commit_stage would re-exchange the map's (much wider) output.
        The written layout is identical — both forms use Spark's
        HashPartitioning(murmur3(col) pmod n), and narrow ops preserve
        partition identity.
        """
        if bucket_col is not None and range_col is not None:
            raise ValueError("bucket_col and range_col are mutually exclusive")
        if self.is_committed(name, input_snapshot, config_hash):
            return self.read_manifest(name)  # resume: skip stage

        tpath = self.table_path(name)
        os.makedirs(tpath, exist_ok=True)
        # GC half-written tmp/old dirs from killed runs (``.tmp-`` is the
        # staging name older versions used)
        for d in os.listdir(tpath):
            if d.startswith(("tmp-", ".tmp-", ".old-")):
                shutil.rmtree(os.path.join(tpath, d), ignore_errors=True)

        if bucket_col is not None and not pre_bucketed:
            df = df.repartition(n_buckets, bucket_col)
        if range_col is not None:
            df = df.repartitionByRange(n_buckets, range_col)
        if sort_within:
            df = df.sortWithinPartitions(*sort_within)

        nonce = uuid.uuid4().hex[:12]
        tmp = os.path.join(tpath, f"tmp-{nonce}")
        writer = df.write.mode("overwrite")
        if partition_by is not None:
            writer = writer.partitionBy(partition_by)
        writer.parquet(tmp)

        # F4: per-partition lineage counters, computed from the written
        # files so the manifest describes exactly what was committed.
        # The frame's own schema is passed to the reader: inferring it
        # from the footers would cost a job of its own
        spark = df.sparkSession
        written = spark.read.schema(df.schema).parquet(tmp)
        aggs = [F.count(F.lit(1)).alias("rows")]
        for c in counter_cols or []:
            aggs.append(F.sum(c).cast("long").alias(c.replace(".", "_")))
        lineage_rows = (
            written.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(*aggs)
            .collect()
        )
        lineage = sorted(
            (r.asDict() for r in lineage_rows), key=lambda r: r["partition_id"]
        )
        total_rows = sum(r["rows"] for r in lineage)

        # invalidate BEFORE touching data/: a crash anywhere in the swap
        # window leaves no manifest, so resume re-runs the stage instead
        # of trusting a manifest whose data was deleted mid-swap
        prev_manifest = self.read_manifest(name)
        if os.path.exists(self.manifest_path(name)):
            os.remove(self.manifest_path(name))
        data = self.data_path(name)
        old = None
        if os.path.exists(data):
            old = os.path.join(tpath, f".old-{nonce}")
            os.replace(data, old)
        os.replace(tmp, data)

        log = self.read_snaplog(name)
        seq = 1 + max((e["snapshot_seq"] for e in log), default=0)
        manifest = {
            "stage": name,
            "snapshot_seq": seq,
            "input_snapshot": input_snapshot,
            "config_hash": config_hash,
            "rows": total_rows,
            "n_partitions": len(lineage),
            "lineage": lineage,
            "committed_at_unix": int(time.time()),
            "bucket_col": bucket_col,
            "n_buckets": n_buckets if (bucket_col or range_col) else None,
            "partition_by": partition_by,
            "range_col": range_col,
            "sort_within": sort_within,
            "schema": written.schema.jsonValue(),
            # schema evolution survives recommits: entries only matter
            # for files that physically lack the column, so carrying
            # them forward is harmless once writes include it
            "added_columns": (prev_manifest or {}).get("added_columns", []),
        }
        if extra:
            manifest.update(extra)
        self.write_manifest(name, manifest)
        # snapshot retention (time travel): the replaced data/ becomes
        # snap-<prev_seq> instead of being deleted — prev_seq read from
        # the manifest that was current before this commit (NOT the
        # newest log entry: after a rollback the current seq is older
        # than the log head). With retention 0 this is the old delete.
        if old is not None:
            prev_seq = (prev_manifest or {}).get("snapshot_seq")
            if self.retain_snapshots > 0 and prev_seq is not None:
                os.replace(old, self.snap_path(name, prev_seq))
            else:
                shutil.rmtree(old, ignore_errors=True)
        log.append(dict(manifest))
        # reconcile: any non-current entry whose snap dir is gone (e.g.
        # the retention-0 delete above) is expired — the log records it
        # for lineage audit but it is no longer readable
        for e in log[:-1]:
            if not os.path.isdir(self.snap_path(name, e["snapshot_seq"])):
                e["expired"] = True
        _replace_json(self.snaplog_path(name), log)
        self.expire_snapshots(name, keep=self.retain_snapshots)
        return manifest

    def read_table(
        self, spark: SparkSession, name: str, as_of: int | None = None
    ) -> DataFrame:
        """Read the current snapshot, or — the Iceberg ``VERSION AS OF``
        analog — a retained superseded one by ``snapshot_seq``, with
        the schema its manifest (or snapshot-log entry) recorded."""
        m = self.read_manifest(name)
        if as_of is None or (m is not None and m.get("snapshot_seq") == as_of):
            return self._read(spark, self.data_path(name), m, name)
        snap = self.snap_path(name, as_of)
        if not os.path.isdir(snap):
            known = [e["snapshot_seq"] for e in self.read_snaplog(name)]
            raise ValueError(
                f"snapshot {as_of} of table {name!r} is expired or unknown "
                f"(log has {known}; retained dirs only go back "
                f"{self.retain_snapshots})"
            )
        entry = next(
            (e for e in self.read_snaplog(name) if e["snapshot_seq"] == as_of),
            None,
        )
        return self._read(spark, snap, entry, name)

    def _read(
        self, spark: SparkSession, path: str, manifest: dict | None, name: str
    ) -> DataFrame:
        schema = (manifest or {}).get("schema")
        reader = spark.read
        if schema is not None:  # else a manifest from before schemas were recorded
            reader = reader.schema(StructType.fromJson(schema))
        return self._apply_evolution(reader.parquet(path), name)

    def _apply_evolution(self, df: DataFrame, name: str) -> DataFrame:
        """Project the table's evolved schema onto ``df``: any column
        recorded by ``evolve_add_column`` that the underlying files
        lack is attached as its typed default — so old snapshots and
        pre-evolution files read through the CURRENT schema (the
        schema-on-read half of Iceberg's ADD COLUMN; time-travel reads
        use the current schema too, documented choice)."""
        m = self.read_manifest(name)
        for e in (m or {}).get("added_columns", []):
            if e["name"] not in df.columns:
                df = df.withColumn(
                    e["name"], F.lit(e["default"]).cast(e["type"])
                )
        return df

    def evolve_add_column(
        self, name: str, col: str, dtype: str, default=None
    ) -> dict:
        """Iceberg ``ALTER TABLE ... ADD COLUMN`` analog: METADATA-ONLY
        — no data file is rewritten (at 10^12 rows a rewrite is the
        difference between a metadata commit and a cluster-week).
        Readers attach the typed default wherever files lack the
        column; the next ``commit_stage`` that includes the column
        writes it physically, and the evolution entry stays harmless.
        Rejects duplicate evolution entries AND collisions with
        physical columns of the current snapshot's parquet schema
        (footer read only, no data pages — ADVICE r5: a physical
        collision is harmless at read time but always a caller bug the
        metadata commit should surface, exactly like Iceberg's
        duplicate-field ADD COLUMN rejection)."""
        m = self.read_manifest(name)
        if m is None:
            raise ValueError(f"table {name!r} has no committed manifest")
        evo = m.get("added_columns", [])
        if any(e["name"] == col for e in evo):
            raise ValueError(
                f"column {col!r} already added to table {name!r}"
            )
        try:
            import pyarrow.dataset as _ds

            phys = _ds.dataset(self.data_path(name), format="parquet").schema.names
        except (OSError, ValueError):
            phys = []
        if col in phys:
            raise ValueError(
                f"column {col!r} already exists physically in table "
                f"{name!r}'s current snapshot"
            )
        evo = evo + [
            {
                "name": col,
                "type": dtype,
                "default": default,
                "at_snapshot_seq": m.get("snapshot_seq"),
            }
        ]
        m["added_columns"] = evo
        self.write_manifest(name, m)
        return m

    def fast_count(self, name: str) -> int:
        """Metadata-only row count — the Iceberg "count(*) answered
        from manifests" analog: the commit protocol computed the count
        from the WRITTEN files (step 6), so serving it from the
        manifest touches zero data files and starts zero Spark jobs.
        At 10^12 rows this is the difference between a dashboard call
        and a cluster scan. Raises if the stage is uncommitted (no
        manifest ⇒ no complete data to count)."""
        m = self.read_manifest(name)
        if m is None:
            raise ValueError(f"table {name!r} has no committed manifest")
        return int(m["rows"])

    def fast_counter_sum(self, name: str, counter: str) -> int:
        """Metadata-only total of a lineage counter column (F4):
        summed across the per-partition lineage block without touching
        data. ``counter`` is the manifest key (dots already mapped to
        underscores by commit_stage)."""
        m = self.read_manifest(name)
        if m is None:
            raise ValueError(f"table {name!r} has no committed manifest")
        key = counter.replace(".", "_")
        try:
            return int(sum(r[key] for r in m["lineage"]))
        except KeyError:
            raise ValueError(
                f"counter {counter!r} was not recorded for table {name!r} "
                f"(lineage keys: {sorted(m['lineage'][0]) if m['lineage'] else []})"
            ) from None

    def rebucket(
        self, spark: SparkSession, name: str, n_buckets: int,
        counter_cols: list[str] | None = None,
    ) -> dict:
        """Partition-evolution migration (the Iceberg ``REPLACE
        PARTITION FIELD bucket(N, col) → bucket(M, col)`` analog):
        rewrite a committed hash-bucketed table into ``n_buckets``
        buckets on the SAME key, through the normal commit protocol —
        so the migration is atomic, crash-safe, resumable (same
        (input, config) ⇒ no-op) and snapshot-logged like any stage;
        rollback_to restores the old layout. Content is unchanged;
        only co-location granularity moves (scale driver: bucket count
        tracks executor count — a table bucketed for 250 executors
        under-parallelizes on 1000).

        ONE job: read current data, one repartition exchange on the
        bucket key, write. Raises for non-hash-bucketed layouts (range
        shards and hive partitions have their own evolution paths)."""
        m = self.read_manifest(name)
        if m is None:
            raise ValueError(f"table {name!r} has no committed manifest")
        if not m.get("bucket_col"):
            raise ValueError(
                f"table {name!r} is not hash-bucketed "
                f"(bucket_col={m.get('bucket_col')!r}, "
                f"range_col={m.get('range_col')!r})"
            )
        if n_buckets == m.get("n_buckets"):
            return m  # already in the requested layout
        return self.commit_stage(
            self.read_table(spark, name),
            name,
            m["input_snapshot"],
            config_hash=f"{m['config_hash']}+bucket{n_buckets}",
            counter_cols=counter_cols,
            bucket_col=m["bucket_col"],
            n_buckets=n_buckets,
            sort_within=m.get("sort_within"),
        )

    def rollback_to(self, name: str, seq: int) -> dict:
        """Restore a retained snapshot as current (the Iceberg
        ``rollback_to_snapshot`` analog). Same crash discipline as
        commit_stage: invalidate the manifest first, swap, then rewrite
        the manifest from the snapshot log — a crash mid-swap leaves no
        manifest and the next pipeline run recomputes the stage."""
        m = self.read_manifest(name)
        if m is not None and m.get("snapshot_seq") == seq:
            return m  # already current
        snap = self.snap_path(name, seq)
        if not os.path.isdir(snap):
            raise ValueError(f"snapshot {seq} of table {name!r} is expired or unknown")
        entry = next(
            (e for e in self.read_snaplog(name) if e["snapshot_seq"] == seq), None
        )
        if entry is None:
            raise ValueError(f"snapshot {seq} of table {name!r} has no log entry")
        cur_seq = (m or {}).get("snapshot_seq")
        if os.path.exists(self.manifest_path(name)):
            os.remove(self.manifest_path(name))
        data = self.data_path(name)
        if os.path.exists(data):
            if cur_seq is not None:
                os.replace(data, self.snap_path(name, cur_seq))
            else:
                shutil.rmtree(data)
        os.replace(snap, data)
        entry = {k: v for k, v in entry.items() if k != "expired"}
        self.write_manifest(name, entry)
        return entry

    def expire_snapshots(self, name: str, keep: int) -> list[int]:
        """Drop all but the ``keep`` newest retained snapshot dirs (the
        Iceberg ``expire_snapshots`` analog); the log keeps the expired
        entries, flagged, so lineage stays auditable. Returns the seqs
        expired."""
        tpath = self.table_path(name)
        if not os.path.isdir(tpath):
            return []
        snaps = sorted(
            int(d[5:]) for d in os.listdir(tpath)
            if d.startswith("snap-") and d[5:].isdigit()
        )
        drop = snaps[: max(0, len(snaps) - keep)] if keep >= 0 else []
        for seq in drop:
            shutil.rmtree(self.snap_path(name, seq), ignore_errors=True)
        if drop:
            log = self.read_snaplog(name)
            for e in log:
                if e["snapshot_seq"] in drop:
                    e["expired"] = True
            _replace_json(self.snaplog_path(name), log)
        return drop


def _replace_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=2, sort_keys=True)
    os.replace(tmp, path)


def snapshot_id_of(df: DataFrame, key_cols: list[str]) -> str:
    """Content-derived snapshot id for a sandbox input table (stands in
    for the Iceberg snapshot id): order-insensitive xxhash64 sum over
    the given columns. Callers MUST include the content column(s), not
    just row keys — a snapshot id that hashes only (conv_id, turn_idx)
    would collide across text-only edits and make resume serve stale
    spans (the hash is one map-side scan; xxhash64 over text is cheap
    relative to extraction)."""
    # pmod keeps the ANSI-mode sum far from long overflow at any row count
    h = F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(1_000_000_007))
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(h).alias("h"),
    ).collect()[0]
    return f"rows={row['n']}:hash={row['h']}"

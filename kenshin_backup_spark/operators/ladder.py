"""Rollup-ladder materialization (SURVEY.md §4.2 must-build #1).

The reference eagerly propagates writes down its archive list so reads
never re-aggregate raw data (§4.1 O4). Spark rendering: one physical
rollup table per retention step, built fine→coarse so each level reads the
previous level's partials (10–600× less input than raw), stored as
date-partitioned parquet so the fetch path prunes partitions (O2).

This module is the batch materializer; the streaming twin is
``streaming/ingest.py`` (same partial schema, so a streaming level-0 plus
batch cascade compose exactly).

Scale notes (100 TB): each level is ONE hash-aggregate shuffle keyed on
(metric, bucket); the cascade keeps every level's input proportional to
the *previous level's cardinality*, not raw row count. Partition count per
level should track its cardinality (coarser level → fewer partitions —
we coalesce by the step ratio).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kenshin_backup_spark.operators.fetch import Archive, fetch, route
from kenshin_backup_spark.operators.rollup import cascade, rollup_partials


@dataclass(frozen=True)
class Ladder:
    """A materialized retention ladder: step_seconds → parquet path.

    ``metric_buckets > 0`` switches every level to the BUCKETED layout
    ``mbucket=<pmod(xxhash64(metric), N)>/date=<day>/``: exact-metric
    fetches and exact-name deletes then touch only 1/N of the files
    (partition pruning on the hash bucket), which is the 100 TB shape —
    a delete rewrites one bucket, not the level. 0 (the default) keeps
    the flat ``date=`` layout."""

    root: str
    archives: tuple[Archive, ...]
    key_cols: tuple[str, ...] = ("metric",)
    metric_buckets: int = 0

    def manifest_path(self) -> str:
        return f"{self.root}/_kenshin_layout.json"

    def on_disk_metric_buckets(self) -> int | None:
        """The bucket count the data was actually WRITTEN with.

        Read from the layout manifest :func:`build_ladder` drops at the
        ladder root (the root is never swapped, so level rewrites can't
        lose it). For pre-manifest ladders, inferred from the directory
        shape: ``mbucket=`` entries under any level → bucketed with an
        unknowable N (``-1``); only ``date=`` entries → flat (``0``).
        ``None`` = nothing materialized yet."""
        import json
        import os

        try:
            with open(self.manifest_path()) as fh:
                return int(json.load(fh)["metric_buckets"])
        except (OSError, ValueError, KeyError, TypeError):
            # TypeError: a manifest with "metric_buckets": null — corrupt
            # manifests of every shape fall through to directory-shape
            # inference rather than hard-failing the read path (ADVICE r8)
            pass
        seen_level = False
        for a in self.archives:
            path = self.level_path(a.step_seconds)
            if not os.path.isdir(path):
                continue
            seen_level = True
            for e in os.listdir(path):
                if e.startswith("mbucket="):
                    return -1
        return 0 if seen_level else None

    def verified_bucketed(self) -> bool:
        """True iff the bucket-pruned fast paths (exact-name fetch /
        delete) are SAFE: the ladder is configured bucketed AND the
        on-disk layout provably used the same N. A recorded mismatch is
        a misconfiguration that would silently miss rows — fail loudly.
        An unverifiable layout (pre-manifest data, or flat-written data
        under a bucketed config) returns False so callers fall back to
        the full-level paths, which are correct for any layout."""
        if self.metric_buckets <= 0:
            return False
        disk = self.on_disk_metric_buckets()
        if disk is None:
            return True  # nothing written yet; this config defines it
        if disk == self.metric_buckets:
            return True
        if disk > 0:
            raise ValueError(
                f"ladder at {self.root} was written with metric_buckets="
                f"{disk} but this Ladder is configured with "
                f"{self.metric_buckets}; bucket-pruned fetch/delete would "
                "silently miss rows — fix the configuration (or rebuild)"
            )
        return False

    def level_path(self, step_seconds: int) -> str:
        return f"{self.root}/step={step_seconds}"

    def bucket_expr(self, key: Column | None = None) -> Column:
        """The bucket id of a series key — MUST match on write and read.

        ``key`` defaults to the ladder's series-key column (the write
        side); the fetch side passes ``F.lit(name)``, which Catalyst folds
        to a literal bucket id, so the prune is a partition filter that
        runs no job."""
        if self.metric_buckets <= 0:
            raise ValueError("ladder is not bucketed")
        return F.pmod(
            F.xxhash64(F.col(self.key_cols[0]) if key is None else key),
            F.lit(int(self.metric_buckets)),
        ).cast("int")

    def buckets_for(self, spark: SparkSession, names: list[str]) -> list[int]:
        """Distinct bucket ids of several exact series names, collected
        into a Python list (the delete path walks one ``mbucket=``
        directory per id). Runs Spark jobs — a single-name fetch prunes with
        ``bucket_expr(F.lit(name))`` instead, which runs none."""
        if not names:
            return []
        df = spark.createDataFrame([(n,) for n in names], "k string")
        rows = df.select(
            self.bucket_expr(F.col("k")).alias("b")
        ).distinct().collect()
        return sorted(r["b"] for r in rows)

    @property
    def partition_cols(self) -> tuple[str, ...]:
        return ("mbucket", "date") if self.metric_buckets > 0 else ("date",)


def build_ladder(
    points: DataFrame,
    ladder: Ladder,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
) -> None:
    """Materialize every archive level, fine→coarse, each cascaded from the
    previous (never re-reading raw — reference O4 semantics)."""
    steps = sorted(a.step_seconds for a in ladder.archives)
    prev: DataFrame | None = None
    prev_step: int | None = None
    schemas: dict[int, str] = {}
    for step in steps:
        if prev is None:
            level = rollup_partials(
                points,
                key_cols=list(ladder.key_cols),
                ts_col=ts_col,
                value_col=value_col,
                step_seconds=step,
            )
        else:
            if step % prev_step != 0:
                # cascade needs aligned buckets; fall back to raw for
                # non-multiple ladders (legal in the reference too)
                level = rollup_partials(
                    points,
                    key_cols=list(ladder.key_cols),
                    ts_col=ts_col,
                    value_col=value_col,
                    step_seconds=step,
                )
            else:
                level = cascade(
                    prev, key_cols=list(ladder.key_cols), step_seconds=step
                )
        out = level.withColumn(
            "date", F.to_date(F.timestamp_seconds(F.col("bucket_ts")))
        )
        if ladder.metric_buckets > 0:
            out = out.withColumn("mbucket", ladder.bucket_expr())
        (
            # sort by metric within each date partition: parquet min/max
            # row-group statistics then prune metric-filtered fetches
            # (SURVEY §4.2 "bucket or Z-order by metric")
            out.sortWithinPartitions("metric" if "metric" in out.columns else ladder.key_cols[0])
            .write.mode("overwrite")
            .partitionBy(*ladder.partition_cols)
            .parquet(ladder.level_path(step))
        )
        # Cascade the next level from the level just MATERIALIZED, not from
        # its unevaluated plan: `prev = level` made every coarser build
        # re-run this level's aggregation from raw (the exact re-read O4
        # forbids). Reading the written parquet back scans the 10-600×
        # smaller partials instead; values round-trip exactly (long/double
        # columns, no rewriting), so the cascade output is unchanged.
        # That read-back already inferred the level's schema (partition
        # columns included), so recording it for open_level is free.
        written = points.sparkSession.read.parquet(ladder.level_path(step))
        schemas[step] = written.schema.json()
        prev = written.drop("date", "mbucket")
        prev_step = step
    _write_layout_manifest(ladder, schemas)


def _write_layout_manifest(ladder: Ladder, schemas: dict[int, str]) -> None:
    """Record the layout the data was written with (ADVICE r7: the
    bucket-pruned delete/fetch paths must never trust the CONFIGURED
    ``metric_buckets`` over the on-disk truth) and each level's schema
    (so :func:`open_level` skips the footer-reading inference job).
    Lives at the ladder root — level swaps never touch it, and no
    rewrite (compaction, delete, expiry) changes a level's schema."""
    import json
    import os

    os.makedirs(ladder.root, exist_ok=True)
    tmp = ladder.manifest_path() + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(
            {
                "metric_buckets": int(ladder.metric_buckets),
                "key_cols": list(ladder.key_cols),
                "schemas": {str(step): js for step, js in schemas.items()},
            },
            fh,
        )
    os.replace(tmp, ladder.manifest_path())


def _recorded_schema(ladder: Ladder, step_seconds: int) -> StructType | None:
    """The schema :func:`build_ladder` recorded for one level, or None
    when the manifest is missing, predates recorded schemas, or is
    corrupt in any way (callers then infer, as for any parquet dir)."""
    import json

    try:
        with open(ladder.manifest_path()) as fh:
            recorded = json.load(fh)["schemas"][str(step_seconds)]
        schema = StructType.fromJson(json.loads(recorded))
    except (OSError, ValueError, KeyError, TypeError, AttributeError):
        return None
    return schema if schema.fields else None


def open_level(spark: SparkSession, ladder: Ladder, step_seconds: int) -> DataFrame:
    """Open one materialized level for reading.

    With a recorded schema the open runs no Spark job (a bare
    ``spark.read.parquet`` runs one to infer the schema from a footer).
    Only the schema is reused: the file listing is taken fresh on every
    open, because compaction, delete and expiry swap level directories.
    Ladders without a usable recorded schema fall back to inference."""
    path = ladder.level_path(step_seconds)
    schema = _recorded_schema(ladder, step_seconds)
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def expire_retention(ladder: Ladder, *, now_ts: int) -> dict[int, list[str]]:
    """Reference retention semantics: the ring buffer implicitly forgets
    points older than ``step × points`` — here, DROP the date partitions
    that lie wholly before each level's retention horizon (SURVEY §1.2
    "retention = dropping old partitions"). Returns the dropped partition
    names per step for observability.

    Scale note: this is a pure metadata/file operation (no data rewrite,
    no compaction), exactly why the date-partitioned layout was chosen.
    """
    import datetime as dt
    import os
    import shutil

    dropped: dict[int, list[str]] = {}
    for a in ladder.archives:
        cutoff_ts = now_ts - a.retention_seconds
        cutoff_date = dt.datetime.fromtimestamp(cutoff_ts, dt.timezone.utc).date()
        path = ladder.level_path(a.step_seconds)
        gone: list[str] = []
        if os.path.isdir(path):
            # bucketed layout nests date= one level down (mbucket=*/date=*)
            roots = (
                sorted(
                    os.path.join(path, e)
                    for e in os.listdir(path)
                    if e.startswith("mbucket=")
                )
                if ladder.metric_buckets > 0
                else [path]
            )
            for root in roots:
                for entry in sorted(os.listdir(root)):
                    if not entry.startswith("date="):
                        continue
                    part_date = dt.date.fromisoformat(entry.split("=", 1)[1])
                    # a partition holds one UTC day; drop only if the WHOLE
                    # day is older than the horizon
                    if part_date < cutoff_date:
                        shutil.rmtree(os.path.join(root, entry))
                        gone.append(
                            os.path.relpath(os.path.join(root, entry), path)
                        )
        dropped[a.step_seconds] = gone
    return dropped


def compact_level(
    spark: SparkSession,
    ladder: Ladder,
    step_seconds: int,
    *,
    max_records_per_file: int = 2_000_000,
) -> tuple[int, int]:
    """Small-file compaction for one ladder level: streaming upserts leave
    one file per micro-batch per date partition; rewrite each partition
    into O(1) files, re-sorted by metric so parquet row-group min/max
    statistics prune metric-filtered fetches again (SURVEY §4.2).

    Rewrites into a temp directory and atomically swaps, so readers never
    see a partial level and the job is restart-safe. Returns
    ``(files_before, files_after)``.

    Scale note: ``repartition("date")`` gives one task (→ one file) per
    date; at 100 TB repartition on (date, metric-hash-bucket) instead and
    raise ``max_records_per_file`` so each partition compacts in parallel.
    """
    import os
    import shutil
    import uuid

    path = ladder.level_path(step_seconds)

    def _count_files(p: str) -> int:
        return sum(
            1
            for root, _, files in os.walk(p)
            for f in files
            if f.endswith(".parquet")
        )

    before = _count_files(path)
    # Short-circuit when there is nothing to merge: every partition dir
    # already holds at most one file (the state build_ladder leaves a
    # freshly built level in — its write lands one file per date at local
    # SFs, and the metric sort-order compaction would re-establish is
    # already the build's sort order). Rewriting anyway would read and
    # rewrite the whole level for zero layout change; real compactors
    # (e.g. Iceberg's rewrite_data_files) skip-up-to-date the same way.
    # Fragmented levels (streaming upsert debris — >1 file in any leaf)
    # take the rewrite below unchanged.
    # ASSUMPTIONS (ADVICE r15): (a) a single-file leaf is build-ordered —
    # true for every writer in this package (build_ladder and the
    # delete/compact rewrites all sortWithinPartitions on the series key;
    # the streaming upsert sink only ever ADDS files, making the leaf
    # multi-file and ineligible for the skip). A future single-file
    # replace writer must keep that sort order or drop a marker to force
    # the rewrite. (b) The count below is a driver-side local-FS walk —
    # O(files) and local-only, fine for this project's store; a 100 TB
    # deployment gets file counts from the table format's manifest
    # (Iceberg/Delta) instead of listing.
    per_leaf: dict[str, int] = {}
    for root, _, files in os.walk(path):
        n = sum(1 for f in files if f.endswith(".parquet"))
        if n:
            per_leaf[root] = n
    if per_leaf and max(per_leaf.values()) <= 1:
        return before, before
    df = spark.read.parquet(path)
    sort_key = ladder.key_cols[0]
    tmp = f"{path}__compacting_{uuid.uuid4().hex[:8]}"
    # partition by what the DISK has, never the configured layout (a
    # misconfigured Ladder must not re-shape a level on compaction)
    parts = [c for c in ("mbucket", "date") if c in df.columns]
    (
        df.repartition(*parts)
        .sortWithinPartitions(sort_key, "bucket_ts")
        .write.mode("overwrite")
        .partitionBy(*parts)
        .option("maxRecordsPerFile", max_records_per_file)
        .parquet(tmp)
    )
    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return before, _count_files(path)


def delete_metrics(
    spark: SparkSession,
    ladder: Ladder,
    metric_regex: str | None = None,
    *,
    metrics: list[str] | None = None,
    max_records_per_file: int = 2_000_000,
) -> dict[int, int]:
    """Metric deletion — the reference's ``rm <metric>.wsp`` operational
    surface (and the execute half of the GDPR erasure story whose audit
    is ``gdpr_erasure_audit``): rewrite every ladder level WITHOUT the
    series matching ``metric_regex`` (or the exact names in
    ``metrics``). Uses the same rewrite-to-temp-then-atomic-swap
    discipline as :func:`compact_level` (readers never see a partial
    level; restart-safe). Returns deleted row counts per step for the
    erasure receipt.

    Scale path: with ``metrics`` (exact names — the normal GDPR shape)
    on a BUCKETED ladder (``metric_buckets > 0``), only the hash
    buckets containing the named series are read and rewritten —
    :func:`_delete_exact_bucketed` — so a delete touches ~len(metrics)/N
    of the level instead of all of it, and the per-bucket swap keeps the
    same atomicity. A regex delete (or a flat ladder) rewrites the whole
    level: the regex's matches can live in any bucket.
    """
    import os
    import shutil
    import uuid

    if (metric_regex is None) == (metrics is None):
        raise ValueError("exactly one of metric_regex/metrics")
    if metrics is not None and ladder.metric_buckets > 0:
        # the bucket-pruned path only when the on-disk layout provably
        # used this N (manifest check — a mismatch raises; flat-written
        # or pre-manifest data falls through to the full-level rewrite,
        # which is correct for any layout)
        if ladder.verified_bucketed():
            return _delete_exact_bucketed(
                spark, ladder, metrics,
                max_records_per_file=max_records_per_file,
            )

    deleted: dict[int, int] = {}
    for a in ladder.archives:
        path = ladder.level_path(a.step_seconds)
        if not os.path.isdir(path):
            deleted[a.step_seconds] = 0
            continue
        df = spark.read.parquet(path)
        hit = (
            F.col(ladder.key_cols[0]).rlike(metric_regex)
            if metric_regex is not None
            else F.col(ladder.key_cols[0]).isin(list(metrics))
        )
        n_total, n_del = df.agg(
            F.count(F.lit(1)), F.sum(hit.cast("long"))
        ).first()
        n_del = int(n_del or 0)
        deleted[a.step_seconds] = n_del
        if n_del == 0:
            continue
        tmp = f"{path}__deleting_{uuid.uuid4().hex[:8]}"
        if n_del == int(n_total):
            # Every series in the level matched. A partitionBy write of an
            # empty frame leaves only _SUCCESS (zero parquet footers), and
            # the next spark.read.parquet on the level — fetch, compaction,
            # a later delete — dies with "Unable to infer schema". Write
            # the empty frame UNPARTITIONED instead so at least one footer
            # carries the schema (round-7 ADVICE fix); the swap below is
            # unchanged.
            spark.createDataFrame([], df.schema).write.mode(
                "overwrite"
            ).parquet(tmp)
        else:
            # partition by what the DISK has (partition discovery put
            # mbucket/date in df.columns), not by the configured layout —
            # a misconfigured Ladder must never silently re-shape a level
            parts = [c for c in ("mbucket", "date") if c in df.columns]
            (
                df.where(~hit)
                .repartition(*parts)
                .sortWithinPartitions(ladder.key_cols[0], "bucket_ts")
                .write.mode("overwrite")
                .partitionBy(*parts)
                .option("maxRecordsPerFile", max_records_per_file)
                .parquet(tmp)
            )
        old = f"{path}__old_{uuid.uuid4().hex[:8]}"
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
    return deleted


def _delete_exact_bucketed(
    spark: SparkSession,
    ladder: Ladder,
    metrics: list[str],
    *,
    max_records_per_file: int = 2_000_000,
) -> dict[int, int]:
    """Bucket-pruned exact-name deletion: only the ``mbucket=`` partition
    directories whose hash bucket contains a named series are read and
    rewritten (per-bucket rewrite-to-temp + atomic directory swap). A
    bucket with zero survivors is REMOVED whole (an empty footer inside
    one mbucket dir would sit at a different directory depth than the
    date= leaves of the others, and Spark partition discovery rejects
    mixed depths); if that removes the LAST bucket, the level root gets
    a single-footer empty frame so it stays readable — the same guard
    as the flat path."""
    import os
    import shutil
    import uuid

    affected = ladder.buckets_for(spark, list(metrics))
    key = ladder.key_cols[0]
    deleted: dict[int, int] = {}
    for a in ladder.archives:
        path = ladder.level_path(a.step_seconds)
        total = 0
        for b in affected:
            bpath = os.path.join(path, f"mbucket={b}")
            if not os.path.isdir(bpath):
                continue
            bdf = spark.read.parquet(bpath)
            hit = F.col(key).isin(list(metrics))
            n_total, n_del = bdf.agg(
                F.count(F.lit(1)), F.sum(hit.cast("long"))
            ).first()
            n_del = int(n_del or 0)
            total += n_del
            if n_del == 0:
                continue
            if n_del == int(n_total):
                schema = bdf.withColumn(
                    "mbucket", F.lit(0).cast("int")
                ).schema
                # same atomic-swap discipline as the partial branch: a
                # reader must see the bucket whole or gone, never a
                # half-rmtree'd directory (ADVICE r7)
                old = f"{bpath}__old_{uuid.uuid4().hex[:8]}"
                os.rename(bpath, old)
                shutil.rmtree(old)
            else:
                tmp = f"{bpath}__deleting_{uuid.uuid4().hex[:8]}"
                (
                    bdf.where(~hit)
                    .repartition("date")
                    .sortWithinPartitions(key, "bucket_ts")
                    .write.mode("overwrite")
                    .partitionBy("date")
                    .option("maxRecordsPerFile", max_records_per_file)
                    .parquet(tmp)
                )
                old = f"{bpath}__old_{uuid.uuid4().hex[:8]}"
                os.rename(bpath, old)
                os.rename(tmp, bpath)
                shutil.rmtree(old)
        if total and not any(
            e.startswith("mbucket=") for e in os.listdir(path)
        ):
            # every bucket vanished: leave one footer so the level stays
            # readable (mbucket/date become ordinary columns of an empty
            # frame, as in the flat path's all-deleted guard)
            spark.createDataFrame([], schema).write.mode("overwrite").parquet(
                path
            )
        deleted[a.step_seconds] = total
    return deleted


def ladder_info(spark: SparkSession, ladder: Ladder) -> DataFrame:
    """Reference ``kenshin-info`` / header read (SURVEY §2.1 S6): one row
    per archive level with its configuration and materialized extent."""
    rows = []
    for a in sorted(ladder.archives, key=lambda x: x.step_seconds):
        try:
            lvl = spark.read.parquet(ladder.level_path(a.step_seconds))
            stats = lvl.agg(
                F.count(F.lit(1)).alias("rows"),
                F.countDistinct(*[F.col(c) for c in ladder.key_cols]).alias("metrics"),
                F.min("bucket_ts").alias("min_ts"),
                F.max("bucket_ts").alias("max_ts"),
            ).first()
            rows.append(
                (a.step_seconds, a.points, a.retention_seconds,
                 stats["rows"], stats["metrics"], stats["min_ts"], stats["max_ts"])
            )
        except Exception:
            rows.append((a.step_seconds, a.points, a.retention_seconds, 0, 0, None, None))
    return spark.createDataFrame(
        rows,
        "step_seconds long, points long, retention_seconds long, "
        "rows long, metrics long, min_ts long, max_ts long",
    )


def load_levels(spark: SparkSession, ladder: Ladder) -> dict[int, DataFrame]:
    """Open every materialized level (see :func:`open_level`)."""
    return {
        a.step_seconds: open_level(spark, ladder, a.step_seconds)
        for a in ladder.archives
    }


def fetch_from_ladder(
    spark: SparkSession,
    ladder: Ladder,
    *,
    metric_glob: str | None,
    from_ts: int,
    until_ts: int,
    now_ts: int,
) -> DataFrame:
    """End-to-end reference read path over the materialized ladder:
    archive selection → partition-pruned scan → grid gap-fill.

    Only the level the request routes to is opened, through
    :func:`open_level`. On a bucketed ladder, an EXACT metric name
    additionally prunes to its single ``mbucket=`` partition: the
    write side's bucket expression applied to the literal name folds to
    a partition filter that stacks with the date pruning. With a
    recorded level schema, building this plan runs no Spark job."""
    archives = list(ladder.archives)
    step = route(archives, from_ts, until_ts, now_ts)[0].step_seconds
    level = open_level(spark, ladder, step)
    if (
        ladder.metric_buckets > 0
        and metric_glob is not None
        and not any(ch in metric_glob for ch in "*?{[")
        # bucket pruning only when the on-disk layout provably used this
        # N (manifest check; mismatch raises) — pruning with the wrong N
        # would silently fetch an empty series
        and ladder.verified_bucketed()
    ):
        level = level.where(
            F.col("mbucket") == ladder.bucket_expr(F.lit(metric_glob))
        )
    return fetch(
        spark,
        {step: level},
        archives,
        metric_glob=metric_glob,
        from_ts=from_ts,
        until_ts=until_ts,
        now_ts=now_ts,
        key_cols=list(ladder.key_cols),
    )

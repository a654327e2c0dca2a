"""Sinks and extra sources: parquet/csv/json read-write with the layout
options that matter at scale.

The reference has ZERO write paths (SURVEY.md §2.1 — "Sinks: none"); this
module is the engine's sink layer. Layout guidance baked into the API:

- ``partition_by``: directory partitioning → partition pruning on read.
  Choose low-cardinality columns (date, region); high-cardinality partition
  keys create millions of tiny files.
- ``write_bucketed_table``: hash-bucketed + optionally sorted catalog
  table → co-located, shuffle-free joins/aggs on the bucket key for every
  downstream query that joins on it. The 100 TB answer to "this join
  shuffles every time".
- ``coalesce_to``: cap output file count after a highly-parallel stage so
  small-file storms don't hit the metastore/filesystem.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame as SparkDF, SparkSession

from ons_utils_spark.generic import list_convert


def write_table(
    df: SparkDF,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: Union[str, Sequence[str], None] = None,
    compression: Optional[str] = "snappy",
    coalesce_to: Optional[int] = None,
) -> None:
    """Write a DataFrame to a path-based table (parquet/csv/json/orc)."""
    if coalesce_to:
        df = df.coalesce(coalesce_to)
    writer = df.write.format(fmt).mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*list_convert(partition_by))
    writer.save(path)


def write_bucketed_table(
    df: SparkDF,
    table_name: str,
    bucket_cols: Union[str, Sequence[str]],
    num_buckets: int,
    sort_cols: Union[str, Sequence[str], None] = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Save as a hash-bucketed (optionally sorted) catalog table.

    Joins/aggregations on ``bucket_cols`` between tables bucketed the same
    way run WITHOUT a shuffle — Catalyst recognizes the co-partitioning.
    Requires a catalog (works against the default local warehouse too).
    """
    writer = (
        df.write.format(fmt)
        .mode(mode)
        .bucketBy(num_buckets, *list_convert(bucket_cols))
    )
    if sort_cols:
        writer = writer.sortBy(*list_convert(sort_cols))
    writer.saveAsTable(table_name)


def zorder_value(cols: Sequence, bits: int = 16):
    """Z-order (Morton) key over numeric columns → interleaved-bit bigint.

    Each column is range-scaled to ``bits`` bits by the caller (pass
    already-normalized ints, e.g. ``((col - min) * (2**bits - 1) / span)``)
    or use :func:`write_zordered`, which normalizes per column from the
    data's min/max. Bit interleaving is unrolled in Python into shift/mask
    expressions (Spark's shift operators take literal shift amounts only),
    producing a single JVM-side projection — no UDF.
    """
    from pyspark.sql import functions as F

    cols = [F.col(c) if isinstance(c, str) else c for c in cols]
    k = len(cols)
    if bits * k > 63:
        # Position 63 is the sign bit (negative keys break range
        # partitioning) and the JVM masks shift amounts mod 64, so
        # positions past 63 silently collide bits of unrelated columns.
        raise ValueError(
            f"zorder_value: bits ({bits}) x columns ({k}) = {bits * k} "
            f"exceeds 63 — lower bits to <= {63 // k} for {k} columns"
        )
    out = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("bigint"), b).bitwiseAND(F.lit(1))
            pos = b * k + i
            # shiftleft takes a literal amount; unroll (bits*k <= 48 total).
            out = out.bitwiseOR(
                F.shiftleft(bit, pos) if pos else bit
            )
    return out


def write_zordered(
    df: SparkDF,
    path: str,
    zorder_by: Union[str, Sequence[str]],
    num_files: int = 32,
    bits: int = 12,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write files clustered on the Z-order curve of ``zorder_by``.

    The multi-dimensional answer to "sort by which column?": range-
    partition + sort on the interleaved-bit Morton key, so rows close in
    ANY of the clustered dimensions land in the same files and row groups.
    Parquet footers then carry tight per-file min/max for EVERY clustered
    column, and a selective filter on any of them prunes most files at
    scan time (data skipping) — the same layout trick Delta/Iceberg
    OPTIMIZE ZORDER applies, here for plain parquet.

    Columns are normalized to ``bits`` bits from their observed min/max
    (one cheap agg pass). At 100 TB: one range shuffle on the z-key (the
    same cost as any global sort-write), amortized over every selective
    read after; re-cluster only when the written data churns.
    """
    from pyspark.sql import functions as F

    zcols = list_convert(zorder_by)
    stats = df.agg(
        *[F.min(c).alias(f"__mn_{c}") for c in zcols],
        *[F.max(c).alias(f"__mx_{c}") for c in zcols],
    ).collect()[0]
    scaled = []
    for c in zcols:
        mn, mx = stats[f"__mn_{c}"], stats[f"__mx_{c}"]
        if mn is None or mx is None:
            raise ValueError(
                f"write_zordered: z-order column {c!r} is entirely NULL — "
                "no min/max to normalize against; drop it from zorder_by"
            )
        width = (mx - mn) or 1
        scaled.append(
            ((F.col(c) - F.lit(mn)).cast("double") / F.lit(width) * F.lit((1 << bits) - 1))
            .cast("bigint")
        )
    keyed = df.withColumn("__z", zorder_value(scaled, bits=bits))
    (
        keyed.repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.format(fmt)
        .mode(mode)
        .save(path)
    )


def _apply_malformed_policy(reader, schema: Optional[str], on_malformed: str):
    """Shared malformed-row policy for text sources (CSV/JSON).

    - ``'keep'`` (PERMISSIVE + ``_corrupt_record``): bad rows survive with
      their raw text in ``_corrupt_record`` and NULLs elsewhere — audit
      then quarantine. The 100 TB default: one bad row in a billion must
      not kill a 6-hour job, and silently dropping it is worse.
    - ``'drop'`` (DROPMALFORMED): bad rows vanish. Only for sources where
      loss is acceptable and accounted for.
    - ``'fail'`` (FAILFAST): abort on first bad row — for sources that
      are contractually clean.
    """
    policies = {"keep": "PERMISSIVE", "drop": "DROPMALFORMED", "fail": "FAILFAST"}
    if on_malformed not in policies:
        raise ValueError(
            f"on_malformed must be one of {sorted(policies)}, got {on_malformed!r}"
        )
    reader = reader.option("mode", policies[on_malformed])
    if on_malformed == "keep" and schema is not None:
        # The corrupt-record column only materializes when it is part of
        # the explicit schema.
        reader = reader.option("columnNameOfCorruptRecord", "_corrupt_record")
    return reader


def read_csv(
    spark: SparkSession,
    path: str,
    schema: Optional[str] = None,
    header: bool = True,
    on_malformed: str = "keep",
    **options,
) -> SparkDF:
    """CSV source. Pass an explicit DDL ``schema`` in production — schema
    inference costs one full extra pass over the data. With
    ``on_malformed='keep'`` (default) add ``_corrupt_record string`` to the
    schema to capture unparseable rows instead of nulling them silently.
    """
    reader = spark.read.option("header", header)
    if schema:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    reader = _apply_malformed_policy(reader, schema, on_malformed)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: Optional[str] = None,
    on_malformed: str = "keep",
    **options,
) -> SparkDF:
    """JSON-lines source; explicit schema avoids the inference pass. Same
    malformed-row policy as :func:`read_csv`."""
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    reader = _apply_malformed_policy(reader, schema, on_malformed)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.json(path)


def merge_overwrite(
    spark: SparkSession,
    target_path: str,
    updates: SparkDF,
    key_cols: Union[str, Sequence[str]],
    fmt: str = "parquet",
) -> None:
    """Upsert into a path-based table by snapshot rewrite.

    Rows in the target whose key appears in ``updates`` are replaced; new
    keys are appended (classic MERGE semantics, last-write-wins per key).

    Crash-safety: the merged snapshot is FULLY WRITTEN to a sibling staging
    path (``<target>.__merge_tmp``) while the original target stays intact —
    the write's lineage reads the live target, so any executor/job failure
    during it just aborts, losing nothing. Only after that write succeeds is
    the snapshot promoted by rename-aside
    (``sources/store.py::promote_staged_store``: target → ``.__old``,
    staging → target, drop the aside), so a crash at any point leaves the
    original or the merged table on disk, and the next call repairs the
    debris on entry (``repair_swap_debris``). Readers racing the two
    renames can still see a briefly missing path; rename is also not
    atomic across stores, and object stores don't rename at all — which is
    exactly why production should use a table format with ACID MERGE
    (Delta/Iceberg/Hudi) instead of this plain-parquet pattern; the API
    shape is the same.
    """
    from ons_utils_spark.sources.store import (
        promote_staged_store, repair_swap_debris,
    )

    repair_swap_debris(target_path)
    keys = list_convert(key_cols)
    target = spark.read.format(fmt).load(target_path)
    kept = target.join(updates.select(*keys).distinct(), keys, "left_anti")
    merged = kept.unionByName(updates)

    staging_path = target_path.rstrip("/") + ".__merge_tmp"
    merged.write.format(fmt).mode("overwrite").save(staging_path)
    promote_staged_store(target_path, staging_path, what="merge_overwrite")


def compact_files(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    target_mb: int = 128,
) -> dict:
    """Rewrite a table directory into ~``target_mb``-sized files.

    The small-files problem: incremental / streaming writers leave
    thousands of tiny files per table, and at 100 TB the NameNode/listing
    pressure plus per-file open cost dominates scan time. Compaction
    reads the table once, repartitions to ``ceil(total_bytes /
    target_mb)`` partitions, and swaps the rewrite into place with the
    rename-aside promotion of ``sources/store.py``
    (``promote_staged_store``: old root → ``.__old``, staging → root,
    delete aside): a crash mid-swap always leaves either the original or
    the compacted table intact, the failure path auto-rolls the original
    back, and the next run repairs crash debris first
    (``repair_swap_debris``). Readers racing the two renames can still
    observe a briefly missing path — use an ACID table format in
    production; ``OPTIMIZE`` in Delta/Iceberg is this operation with a
    transaction log around it.

    Sizing uses the CURRENT compressed bytes on disk, so the output files
    land near ``target_mb`` after compression without a calibration pass.
    Returns ``{"files_before", "files_after", "bytes", "partitions"}``.
    """
    import math

    from pyarrow import fs as pafs

    from ons_utils_spark.sources.store import (
        _resolve_fs, promote_staged_store, repair_swap_debris,
    )

    # Recover debris from a previous crashed run FIRST — without this,
    # every later compaction wedges on the rename-target-exists error
    # (and if the crash hit between the two renames, the table path
    # itself is missing until the aside is restored).
    repair_swap_debris(path)
    filesystem, root = _resolve_fs(path)
    all_infos = filesystem.get_file_info(pafs.FileSelector(root, recursive=True))
    infos = [
        i
        for i in all_infos
        if i.type == pafs.FileType.File and not i.base_name.startswith(("_", "."))
    ]
    total = sum(i.size for i in infos)
    n_parts = max(1, math.ceil(total / (target_mb * 1024 * 1024)))

    # Hive-style partition directories (col=value) must survive the
    # rewrite: the read infers them as ordinary columns, so writing
    # without partitionBy would flatten the layout and every downstream
    # reader would lose partition pruning. Recover the partition columns
    # from the directory names, outermost first.
    part_cols: list[str] = []
    for i in all_infos:
        if i.type != pafs.FileType.File:
            continue
        rel = i.path[len(root):].strip("/")
        segs = [s.split("=", 1)[0] for s in rel.split("/")[:-1] if "=" in s]
        if len(segs) > len(part_cols):
            part_cols = segs

    df = spark.read.format(fmt).load(path)
    staging = path.rstrip("/") + ".__compact_tmp"
    # coalesce, not repartition: compaction must not pay a full shuffle —
    # merging input splits is a narrow dependency. (A shuffle would also
    # destroy any existing sort order within files.)
    writer = df.coalesce(n_parts).write.format(fmt).mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.save(staging)
    promote_staged_store(path, staging, what="compact_files")
    after = [
        i
        for i in filesystem.get_file_info(pafs.FileSelector(root, recursive=True))
        if i.type == pafs.FileType.File and not i.base_name.startswith(("_", "."))
    ]
    return {
        "files_before": len(infos),
        "files_after": len(after),
        "bytes": total,
        "partitions": n_parts,
    }

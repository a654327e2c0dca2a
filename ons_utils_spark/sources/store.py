"""Append-only partitioned delta stores — the shared durable layout
behind the incrementally-maintained sketches (Count-Min in
``operators/sketches.py``, Bloom in ``operators/corpus.py``).

One recipe, one layout: every delta lands under a ``batch_id=<id>``
partition directory (sentinel ``-1`` for batch callers); a streaming
replay statically overwrites exactly its own partition, making the
at-least-once ``foreachBatch`` contract effectively exactly-once for any
MERGEABLE delta type (cell sums, bit ORs). Loaders re-aggregate on read;
compaction is a rewrite with the loader's output (associativity makes
any compaction schedule equivalent).

**Metadata plane.** Store metadata is small and bounded by the index
geometry, not the corpus: index ``meta/`` and ``vectors/``, the per-batch
BM25 stats rows, tombstone substores and the ``batch_id`` partition
listing that gives each store its high-water mark. Those are read on
the DRIVER with pyarrow (:func:`read_small_store`, :func:`max_batch_id`,
:func:`load_tombstone_watermarks`) through the same :func:`_resolve_fs`
resolution the directory probes use — a Spark job would cost its
per-job latency floor for a read of a few kilobytes. Postings and coded
rows scale with the corpus, so they stay Spark scans; each gets an
explicit schema from ONE parquet footer (:func:`footer_schema`), so no
scan pays Spark's schema-inference job either.

**Coded-table lifecycle.** The IVF×PQ and IVF×SQ serving tables share
one store, written and read by the ``coded_table_*`` functions below;
a family differs only in its :class:`CodedTableCodec` value
(``pq.PQ_CODEC``, ``similarity.SQ_CODEC``), which carries the index
artifact I/O, the stored-index encoder and the batch scorer. A save
writes the coded rows under ``<path>/coded_<fingerprint>_<nonce>``
(``batch_id=-1/__list=<j>/``) and THEN the index, whose meta row
records that generation name: the index write is the commit point, so
a crash (or a same-index re-save) never tears the live pair, and
superseded ``coded_*`` directories are swept after the commit. Appends
land as ``batch_id`` partitions inside the live generation (the
replay-truncate rule of :func:`partitioned_delta_append`); deletes are
tombstones in ``coded_<generation>__tombstones``, applied on load as a
watermark anti-filter. Compaction without tombstones rewrites the
generation in place (:func:`compact_store`); with tombstones it
re-saves the live rows as a fresh generation, so the commit retires
the old rows and their tombstones together. An index meta with no
generation record is the pre-generation PQ layout only if
``coded_<fingerprint>`` exists — which loads, but refuses every other
verb — and otherwise an index saved alone, which is not a table.

**BM25 commit manifest.** The BM25 store (``operators/text.py``) keeps
its ``postings/``, ``stats/`` and ``tombstones/`` ``batch_id`` layout
and makes each stats row the commit record for the files it pairs
with: a writer lands its postings (or tombstone) files first, lists
them (:func:`file_manifest` — relative path → byte size), and writes
the stats row carrying that listing last. Spark names every part file
with a per-write UUID, so a rewrite of the same rows gets new names; a
loader compares each substore's listing with the union of the recorded
manifests (:func:`check_file_manifest`) on the driver, in 0 jobs, and
any unrecorded, missing or resized file — a write torn between its
two halves, or an edit behind the store's back — raises.

LLM-data-pipeline extension (no reference twin — the reference's I/O
surface stops at CSV/Hive reads, SURVEY.md §2.1).
"""

from __future__ import annotations

from typing import Callable, NamedTuple, Sequence

from pyspark.sql import DataFrame as SparkDF, functions as F


def _resolve_fs(path: str):
    """``(pyarrow filesystem, resolved path)`` for ``path``.

    Public API only (SURVEY §1.1 bars the ``spark._jvm``/``_jsc`` escape
    hatch, which is also absent under Spark Connect). Bridges the two
    gaps between Hadoop path conventions and
    ``pyarrow.fs.FileSystem.from_uri``: the Hadoop S3 scheme aliases
    (``s3a://``/``s3n://``) map to pyarrow's ``s3://``, and RELATIVE
    local paths resolve to absolute (``from_uri`` rejects an empty
    scheme). Schemeless paths resolve against the LOCAL filesystem — on
    a cluster whose ``fs.defaultFS`` is HDFS, pass the full
    ``hdfs://namenode/...`` URI (pyarrow's HDFS support resolves it).
    """
    import os
    import re

    from pyarrow import fs as pafs

    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*)://", path)
    if m:
        scheme = m.group(1).lower()
        if scheme in ("s3a", "s3n"):
            path = "s3://" + path[len(m.group(0)):]
    else:
        path = os.path.abspath(path)
    return pafs.FileSystem.from_uri(path)


def _hidden(name: str) -> bool:
    """Spark's rule for path components a parquet scan skips: ``.``-
    prefixed names (checksums, hidden dirs) and ``_``-prefixed ones
    (``_SUCCESS``, ``_temporary``) — except ``k=v`` partition
    directories such as the coded tables' ``__list=<j>``."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _data_files(path: str):
    """``(filesystem, [(file, partition values, bytes)])`` for every
    parquet data file under ``path``, sorted by file path. Partition
    values come from the hive ``k=v`` directories between ``path`` and
    the file, decoded as ints (every store here partitions by integer
    columns, which Spark infers as ``int``). Files under a non-partition
    subdirectory are not part of the store and are skipped, as are
    hidden names (:func:`_hidden`). Raises ``FileNotFoundError`` if
    ``path`` does not exist."""
    from pyarrow import fs as pafs

    filesystem, root = _resolve_fs(path)
    root = root.rstrip("/")
    if filesystem.get_file_info(root).type == pafs.FileType.NotFound:
        raise FileNotFoundError(f"store path does not exist: {path!r}")
    files = []
    selector = pafs.FileSelector(root, recursive=True)
    for info in filesystem.get_file_info(selector):
        if info.type != pafs.FileType.File:
            continue
        parts = info.path[len(root) + 1:].split("/")
        if any(_hidden(p) for p in parts):
            continue
        dirs = [p.split("=", 1) for p in parts[:-1]]
        if any(len(d) != 2 for d in dirs):
            continue
        files.append((info.path, {k: int(v) for k, v in dirs}, info.size))
    return filesystem, sorted(files)


def max_batch_id(path: str) -> "int | None":
    """The store's high-water mark: the largest ``batch_id=<k>``
    partition holding at least one data file, from the file listing
    alone (no data read). A replay-truncated partition — a directory
    left with only its commit marker — does not count, exactly as Spark
    partition discovery never sees it. ``None`` if no file sits under a
    ``batch_id`` partition."""
    _, files = _data_files(path)
    return max(
        (parts["batch_id"] for _, parts, _ in files if "batch_id" in parts),
        default=None,
    )


def file_manifest(
    path: str, batch_id: "int | None" = None, since: "str | None" = None
) -> str:
    """The data files under ``path`` as a JSON object, relative path →
    byte size, from the listing alone — the record a BM25 writer stores
    with the stats row it commits last. ``batch_id`` lists only that
    ``batch_id=<k>`` partition (keys stay relative to ``path``);
    ``since``, an earlier manifest of the same listing, leaves out the
    files it already names, so a sentinel append records just the files
    it added. A missing path lists as ``{}``."""
    import json

    sub = path if batch_id is None else f"{path}/batch_id={int(batch_id)}"
    files = {}
    if dir_exists(sub):
        _, root = _resolve_fs(path)
        skip = len(root.rstrip("/")) + 1
        files = {f[skip:]: size for f, _, size in _data_files(sub)[1]}
    old = json.loads(since) if since else {}
    return json.dumps({k: v for k, v in files.items() if k not in old})


def check_file_manifest(
    path: str, recorded: "Sequence[str | None]", torn: str
) -> None:
    """Raise ``ValueError(torn + details)`` unless the listing of
    ``path`` equals the union of the ``recorded`` :func:`file_manifest`
    texts (``None`` entries record nothing): an unrecorded file is a
    write whose commit record never landed, and a missing or resized
    one a record whose files were replaced or lost. Driver listing
    only, no Spark job."""
    import json

    want: dict = {}
    for text in recorded:
        if text is not None:
            want.update(json.loads(text))
    have = json.loads(file_manifest(path))
    if have == want:
        return
    extra = sorted(have.keys() - want.keys())
    missing = sorted(want.keys() - have.keys())
    resized = sorted(k for k in have.keys() & want.keys()
                     if have[k] != want[k])
    raise ValueError(
        f"{torn} ({len(extra)} unrecorded, {len(missing)} missing and "
        f"{len(resized)} resized file(s) under {path!r}; first: "
        f"{(extra + missing + resized)[0]!r})"
    )


def footer_schema(path: str):
    """The Spark schema a plain ``spark.read.parquet(path)`` would infer,
    taken from ONE data file's footer on the driver — pass it to
    ``spark.read.schema(...)`` and the scan skips Spark's
    schema-inference job. Uses the Spark schema the writer stored in
    the footer (field metadata such as the coded tables' residual tag
    survives), falling back to the Arrow schema for foreign files;
    partition columns follow as ``int``. Raises ``ValueError`` if the
    store holds no data file (an empty partitioned write carries no
    schema)."""
    import json

    import pyarrow.parquet as papq
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import IntegerType, StructField, StructType

    filesystem, files = _data_files(path)
    if not files:
        raise ValueError(f"no parquet data files under {path!r}")
    first, parts, _ = files[0]
    with filesystem.open_input_file(first) as f:
        arrow = papq.read_schema(f)
    stored = (arrow.metadata or {}).get(
        b"org.apache.spark.sql.parquet.row.metadata"
    )
    schema = (
        StructType.fromJson(json.loads(stored)) if stored
        else from_arrow_schema(arrow)
    )
    return StructType(
        list(schema.fields)
        + [StructField(k, IntegerType(), True) for k in parts]
    )


def read_small_store(path: str, columns=None):
    """Read a metadata-sized parquet store on the driver →
    ``pyarrow.Table``, with no Spark job.

    Mirrors ``spark.read.option("mergeSchema", "true").parquet(path)``:
    the file schemas are unified (a column missing from older files
    reads as NULL there), and hive partition directories become ``int``
    columns. ``columns`` (names) projects the result in that order; a
    requested column no file carries reads as all-NULL. Only for stores bounded by index geometry or batch count
    — postings and coded rows stay Spark scans."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    filesystem, files = _data_files(path)
    tables = []
    for file, parts, _ in files:
        with filesystem.open_input_file(file) as f:
            table = papq.read_table(f)
        for k, v in parts.items():
            table = table.append_column(
                k, pa.array([v] * table.num_rows, pa.int32())
            )
        tables.append(table)
    table = (
        pa.concat_tables(tables, promote_options="default") if tables
        else pa.table({})
    )
    if columns is None:
        return table
    return pa.table({
        c: (
            table.column(c) if c in table.column_names
            else pa.nulls(table.num_rows)
        )
        for c in columns
    })


def read_two_stores(path_a: str, schema_a, path_b: str, schema_b):
    """Read TWO small parquet stores on the driver → ``(rows_a,
    rows_b)``, each a list of Rows carrying exactly the named schema's
    columns (a DDL string or ``StructType``; only the names are used).
    A column missing from older files reads as NULL, so a
    pre-generation index meta reads ``coded_generation`` as NULL. The
    index loaders read ``meta/`` and ``vectors/`` through this — two
    driver reads, no Spark job."""
    from pyspark.sql import Row
    from pyspark.sql.types import StructType

    def rows(path, schema):
        if not isinstance(schema, StructType):
            schema = StructType.fromDDL(schema)
        table = read_small_store(path, schema.fieldNames())
        return [Row(**r) for r in table.to_pylist()]

    return rows(path_a, schema_a), rows(path_b, schema_b)


def _root_level_data_files(path: str) -> "list[str]":
    """Data files sitting at the store ROOT (outside any ``batch_id=``
    partition directory) — the pre-r6 plain-append layout. Empty list if
    the path doesn't exist or holds only partition dirs + commit markers.
    """
    from pyarrow import fs as pafs

    filesystem, resolved = _resolve_fs(path)
    root = filesystem.get_file_info(resolved)
    if root.type == pafs.FileType.NotFound:
        return []
    offenders = []
    selector = pafs.FileSelector(resolved, recursive=False)
    for info in filesystem.get_file_info(selector):
        if info.type == pafs.FileType.Directory:
            continue
        if info.base_name.startswith(("_", ".")):
            continue
        offenders.append(info.base_name)
    return offenders


def partitioned_delta_append(
    delta: SparkDF,
    path: str,
    batch_id: "int | None" = None,
    partition_cols: "tuple[str, ...]" = ("batch_id",),
) -> None:
    """Write one batch's mergeable deltas into an append-only store.

    ``batch_id=None`` (batch caller): append under the sentinel
    partition ``batch_id=-1``. With ``batch_id`` (a ``foreachBatch``
    micro-batch id): REPLACE exactly that batch's partition via a static
    overwrite of ``<path>/batch_id=<id>/`` — a replayed checkpointed
    micro-batch replaces its own deltas instead of double-counting them
    (the standard idempotent-sink recipe). The overwrite is
    unconditional: a replay whose deltas come out EMPTY still truncates
    the partition, so stale rows from the first attempt cannot survive
    (dynamic-partition overwrite would have written nothing and left
    them in place).

    Raises if the store has root-level data files — the pre-r6 plain
    append layout. Mixing the two layouts corrupts partition discovery
    (root files and ``batch_id=`` dirs can't coexist in one parquet
    partition scheme), so a legacy store must be migrated ONCE before
    its first partitioned append: read it and rewrite through this
    function (merge-on-read makes the rewrite lossless)::

        legacy = spark.read.parquet(path).select(<delta columns>)
        partitioned_delta_append(legacy, new_path)   # lands at batch_id=-1

    ``delta`` must not itself contain a ``batch_id`` column, and a
    streaming ``batch_id`` must be non-negative (negative ids collide
    with the batch-caller sentinel partition ``batch_id=-1``, and the
    unconditional overwrite would silently destroy every accumulated
    batch-mode delta).

    ``partition_cols`` is the store's physical partitioning, led by
    ``batch_id`` as in :func:`compact_store`; the coded serving tables
    pass ``("batch_id", "__list")``. A replay's overwrite is pinned
    STATIC at the writer: under a session's dynamic mode it would only
    replace the inner partitions present in THIS run's rows, so an
    empty replay would truncate nothing.
    """
    if "batch_id" in delta.columns:
        raise ValueError(
            "delta already has a 'batch_id' column — the store layout "
            "owns that name"
        )
    if batch_id is not None and int(batch_id) < 0:
        raise ValueError(
            f"batch_id must be >= 0 (got {batch_id}) — negative ids are "
            "reserved for the batch-caller sentinel partition batch_id=-1"
        )
    offenders = _root_level_data_files(path)
    if offenders:
        raise ValueError(
            f"store at {path!r} has {len(offenders)} root-level data "
            f"file(s) (e.g. {offenders[0]!r}) — a pre-partitioned-layout "
            "store. Migrate once before appending: read the legacy "
            "store, select the delta columns, and rewrite it through "
            "partitioned_delta_append at a fresh path (merge-on-read "
            "makes the rewrite lossless); then retire the legacy path."
        )
    if batch_id is None:
        (
            delta.withColumn("batch_id", F.lit(-1))
            .write.mode("append")
            .partitionBy(*partition_cols)
            .parquet(path)
        )
        return
    (
        delta.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy(*partition_cols[1:])
        .parquet(f"{path}/batch_id={int(batch_id)}")
    )


def compact_store(
    merged: SparkDF,
    path: str,
    partition_cols: "tuple[str, ...]" = ("batch_id",),
) -> None:
    """Rewrite a delta store as ONE merged delta — the maintenance half
    of the append-only contract.

    Long-running stores accumulate one partition directory per batch
    (a year of 5-minute micro-batches is ~10⁵ directories), and at some
    point partition DISCOVERY — not the merge-on-read aggregation —
    dominates load time. Because every delta type this layout stores is
    mergeable (cell sums, bit ORs), compaction is semantically free:
    pass the loader's output (``load_sketch`` / ``load_bloom``) and the
    store collapses to a single sentinel partition holding the same
    aggregate; associativity makes any compaction schedule equivalent.

    The rewrite stages next to the store and promotes via RENAME-ASIDE
    (the :func:`ons_utils_spark.sources.write.compact_files` recipe, not
    delete-then-move): the live directory renames to ``<path>.__old``
    (metadata-only), the staged store renames in, then the aside
    deletes. A crash in any window leaves the data recoverable — this
    function repairs the debris of a previous crashed run on entry
    (aside present + store missing ⇒ restore the aside; both present ⇒
    the aside is superseded, delete it) — and a failed promotion rolls
    the original back. Still not ACID (a reader racing the two renames
    can see a missing path for one metadata-op window); an ACID table
    format is the production answer, as ``sources/write.py`` notes.

    ``merged`` must be DERIVED FROM the store at ``path`` via the
    loader — the caller materializes it BEFORE the swap moves its
    input (this function forces that with a local checkpoint if the
    plan is still lazy).

    ``partition_cols`` is the store's physical partitioning, always
    led by ``batch_id`` (the sentinel layout); stores with a second
    pruning level — the IVF×PQ serving table's ``__list`` — pass
    ``("batch_id", "__list")`` so the compacted rewrite keeps the
    probe-pruning directory structure.

    **Streaming replay caveat**: compaction folds every ``batch_id``
    partition into the sentinel, so a checkpointed ``foreachBatch``
    REPLAY of a compacted batch can no longer overwrite its own
    partition — it appends a second copy. For min/OR-merged stores
    (gram index, Bloom) that is harmless (idempotent merge); for
    SUM-merged stores (Count-Min cells) it double-counts. Compact a
    Count-Min store only while its streaming writer is stopped and its
    checkpoint has advanced past every batch being compacted.
    """
    from pyarrow import fs as pafs

    if "batch_id" in merged.columns:
        raise ValueError(
            "merged delta already has a 'batch_id' column — pass the "
            "loader's output, not the raw store read"
        )
    filesystem, dst = _resolve_fs(path)
    repair_swap_debris(path)
    # Fail BEFORE the staged rewrite: moving a missing live store would
    # otherwise surface as an opaque pyarrow error only after the
    # staging directory was fully written (and left behind).
    if filesystem.get_file_info(dst).type == pafs.FileType.NotFound:
        raise ValueError(
            f"store does not exist at {path!r} — compact_store rewrites "
            "an existing delta store; create it with an append first"
        )
    # Cut lineage BEFORE touching the directory the plan reads from:
    # a lazy plan re-scanned after the swap would read its own output
    # (or nothing). localCheckpoint materializes to executor storage.
    if partition_cols[:1] != ("batch_id",):
        raise ValueError(
            f"partition_cols must lead with 'batch_id' (got "
            f"{partition_cols!r}) — the sentinel layout is the store "
            "contract"
        )
    merged = merged.localCheckpoint(eager=True)
    staging = path.rstrip("/") + ".__compact_tmp"
    (
        merged.withColumn("batch_id", F.lit(-1))
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(staging)
    )
    promote_staged_store(path, staging, what="compact_store")


def repair_swap_debris(path: str) -> None:
    """Repair the debris a crashed rename-aside promotion may have left
    at ``path`` — run on ENTRY by every operation that promotes a
    staged rewrite (:func:`compact_store`, the BM25 vacuum): aside
    present + live missing ⇒ the crash hit between the two renames,
    restore the aside; both present ⇒ the aside is superseded debris,
    delete it."""
    from pyarrow import fs as pafs

    filesystem, dst = _resolve_fs(path)
    aside = dst.rstrip("/") + ".__old"
    if filesystem.get_file_info(aside).type != pafs.FileType.NotFound:
        if filesystem.get_file_info(dst).type == pafs.FileType.NotFound:
            filesystem.move(aside, dst)  # crashed between renames
        else:
            filesystem.delete_dir(aside)  # crashed before cleanup


def promote_staged_store(path: str, staging: str, what: str) -> None:
    """Swap a FULLY-WRITTEN staged directory in place of the live one
    via rename-aside (live → ``.__old``, staged → live, drop the
    aside) — two metadata ops, crash-recoverable at every window by
    :func:`repair_swap_debris`, rollback on a failed promotion. The
    caller must have finished writing ``staging`` and must not hold
    lazy plans over ``path`` (checkpoint first)."""
    filesystem, dst = _resolve_fs(path)
    _, src = _resolve_fs(staging)
    aside = dst.rstrip("/") + ".__old"
    filesystem.move(dst, aside)
    try:
        filesystem.move(src, dst)
    except Exception as exc:
        try:
            filesystem.move(aside, dst)
            recovered = "original store restored"
        except Exception:  # noqa: BLE001
            recovered = f"original preserved at {aside} — recover manually"
        raise IOError(
            f"{what}: rewritten store staged at {staging} but "
            f"promoting it to {path} failed — {recovered}"
        ) from exc
    filesystem.delete_dir(aside)


def dir_exists(path: str) -> bool:
    """True iff ``path`` resolves to an existing directory — the shared
    probe the tombstone-aware loaders use to decide whether a store has
    pending deletes without paying a Spark read on the common
    (tombstone-free) path."""
    from pyarrow import fs as pafs

    filesystem, resolved = _resolve_fs(path)
    return (
        filesystem.get_file_info(resolved).type == pafs.FileType.Directory
    )


def append_tombstones(ids: SparkDF, path: str, batch_id: int) -> None:
    """Record one delete batch in a store's tombstone substore.

    Tombstones are the delete half of the append-only contract: a row
    ``(id)`` under ``batch_id=<id>`` meaning *every data row for this id
    written at or before this point is dead*. Loaders fold them into a
    per-id high-water mark (:func:`load_tombstone_watermarks`) and
    filter with :func:`apply_tombstones`; compaction/vacuum applies
    them physically and clears the substore.

    ``batch_id`` is REQUIRED and non-negative — a delete only means
    something relative to an ordering of appends, and the sentinel
    partition (``-1``, base saves) is exactly the point with no order.
    Batch callers pass any value ≥ the newest batch they want the
    delete to cover (``0`` for a never-appended store); streaming
    callers pass the micro-batch id, which makes a checkpointed replay
    statically overwrite its own tombstone partition — exactly-once,
    the same rule as data appends. Deleting an id the store never held
    is legal (a tombstone is a filter, not a lookup); re-appending an
    id at a LATER batch_id resurrects it (delete-then-reinsert is how
    an update is expressed).
    """
    if batch_id is None or int(batch_id) < 0:
        raise ValueError(
            f"tombstones require an explicit non-negative batch_id "
            f"(got {batch_id}) — a delete is only meaningful relative "
            "to the append order, and the sentinel partition has none. "
            "Pass a value >= the newest data batch the delete should "
            "cover (0 for a store that was only base-saved)."
        )
    if ids.columns != ["id"]:
        raise ValueError(
            f"tombstone batch must be exactly one 'id' column (got "
            f"{ids.columns}) — project before appending"
        )
    if ids.where(F.col("id").isNull()).limit(1).count():
        raise ValueError(
            "tombstone batch holds a NULL id — a NULL never equi-joins, "
            "so the delete would silently not happen; fix the batch "
            "upstream"
        )
    partitioned_delta_append(ids, path, batch_id=int(batch_id))


def load_tombstone_watermarks(
    spark, path: str, before: "int | None" = None
) -> "SparkDF | None":
    """Fold a tombstone substore → ``(id, __dead_upto)`` — the max
    tombstone ``batch_id`` per id, or ``None`` if the store has no
    tombstone directory (the common fast path: loaders skip the join
    entirely). ``before`` keeps only tombstones from batches below it
    (a delete's live-as-of view). The fold runs on the driver
    (:func:`read_small_store`) and comes back as a driver-local
    relation in the substore's own ``id`` dtype, so building it costs
    no Spark job. NULL ids in the substore raise — a NULL watermark
    would silently match nothing in the anti-filter and resurrect the
    row."""
    from pyspark.sql.pandas.types import from_arrow_type
    from pyspark.sql.types import IntegerType, StructField, StructType

    from ons_utils_spark.functions.localrel import local_rows_df

    if not dir_exists(path):
        return None
    tombs = read_small_store(path, ["id", "batch_id"])
    marks: dict = {}
    for i, b in zip(*tombs.to_pydict().values()):
        if i is None:
            raise ValueError(
                f"tombstone store at {path!r} holds NULL ids — a NULL "
                "never equi-joins, so the dead rows would silently keep "
                "serving; the store was written outside append_tombstones "
                "(which refuses NULLs) and must be repaired manually"
            )
        if before is None or b < before:
            marks[i] = max(b, marks.get(i, b))
    schema = StructType([
        StructField("id", from_arrow_type(tombs.schema.field("id").type)),
        StructField("__dead_upto", IntegerType()),
    ])
    return local_rows_df(spark, sorted(marks.items()), schema)


def apply_tombstones(
    rows: SparkDF, watermarks: "SparkDF | None", id_col: str = "id"
) -> SparkDF:
    """Filter a batch-partitioned data read down to its LIVE rows: a row
    survives iff no tombstone for its id was issued at or after the
    row's own ``batch_id`` (``__dead_upto >= batch_id`` kills — so a
    tombstone at batch 5 erases the base save (-1) and batches ≤ 5,
    while a re-append at batch 7 serves again). ``rows`` must still
    carry its ``batch_id`` column; the watermark side is one folded row
    per deleted id — broadcast, so the filter is a map-side join, never
    a shuffle of the data read."""
    if watermarks is None:
        return rows
    if "batch_id" not in rows.columns:
        raise ValueError(
            "apply_tombstones needs the data read's batch_id column — "
            "read the store raw (before projecting the layout away)"
        )
    wm = watermarks.withColumnRenamed("id", "__tomb_id")
    return (
        rows.join(
            F.broadcast(wm),
            rows[id_col] == wm["__tomb_id"],
            "left",
        )
        .where(
            F.col("__dead_upto").isNull()
            | (F.col("__dead_upto") < F.col("batch_id"))
        )
        .drop("__tomb_id", "__dead_upto")
    )


# ---------------------------------------------------------------------
# Coded serving tables (IVF×PQ, IVF×SQ) — see the module docstring.
# ---------------------------------------------------------------------

#: ``format_version`` every index artifact's meta row carries.
INDEX_FORMAT_VERSION = 1


class CodedTableCodec(NamedTuple):
    """One codec family of the coded serving table: a fixed value
    defined next to its family (``pq.PQ_CODEC``, ``similarity.
    SQ_CODEC``) and passed to the ``coded_table_*`` functions, which
    never branch on the family. The family's index type exposes
    ``coarse_centroids``, ``dim``, ``by_residual`` and ``fingerprint``;
    everything else about it stays behind these four functions."""

    #: Short name, as ``retrieval.ann_store_family`` reports it.
    family: str
    #: Name for messages, e.g. ``"IVF×PQ"``.
    label: str
    #: ``(spark, index, path, coded_generation=None)`` — write the
    #: index artifact (through :func:`write_index_artifact`).
    save_index: Callable
    #: ``(spark, path) -> (index, meta row)`` — read and
    #: fingerprint-validate it (through :func:`read_index_artifact`).
    load_index_with_meta: Callable
    #: ``(df, index, id_col, vec_col, method=) -> (id, codes, __list)``
    #: — encode with the stored index, no training.
    encode: Callable
    #: ``(coded, index, queries, query_id_col=, vec_col=, n_probe=,
    #: topk=) -> (query_id, id, adc_dist)``.
    batch_topk: Callable


def write_index_artifact(
    spark, path: str, vectors, vectors_schema: str, meta, meta_schema: str
) -> None:
    """Write an index artifact as two small one-file parquet tables:
    ``vectors/`` (the payload rows) and ``meta/`` (the one ``meta``
    row). ``meta/`` is written LAST, so a crash mid-save leaves a store
    :func:`read_index_artifact` rejects rather than a silently
    truncated index. Overwrites any index at ``path`` (the non-ACID
    stance of the rest of ``sources/``)."""
    from ons_utils_spark.functions.localrel import local_rows_df

    # coalesce(1): the payload is bounded by the index geometry — a
    # FAISS IVF65536,PQ16x8 geometry is ~70k rows, still one small file.
    local_rows_df(spark, vectors, vectors_schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/vectors")
    local_rows_df(spark, [meta], meta_schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")


def read_index_artifact(
    path: str, meta_schema: str, vectors_schema: str, label: str
):
    """Read an index artifact written by :func:`write_index_artifact`
    on the driver → ``(meta row, vector rows)``, checking that the meta
    is one row of :data:`INDEX_FORMAT_VERSION`. The named schemas read
    a column older stores lack (e.g. ``coded_generation``) as NULL;
    the payload's geometry and fingerprint are the codec's to check."""
    meta_rows, rows = read_two_stores(
        f"{path}/meta", meta_schema, f"{path}/vectors", vectors_schema
    )
    if len(meta_rows) != 1:
        raise ValueError(
            f"{label} index meta at {path!r} has {len(meta_rows)} rows — "
            "expected exactly 1; the store is corrupt or not an index"
        )
    meta = meta_rows[0]
    if meta["format_version"] != INDEX_FORMAT_VERSION:
        raise ValueError(
            f"{label} index at {path!r} has format_version "
            f"{meta['format_version']} — this build reads "
            f"{INDEX_FORMAT_VERSION}"
        )
    return meta, rows


def _tag_residual(coded: SparkDF, by_residual: bool) -> SparkDF:
    """Stamp the build geometry onto a coded table as ``codes`` column
    metadata, which survives select/filter/cache and a parquet
    round-trip (``pq.ivf_pq_build``'s tag comment)."""
    return coded.withMetadata(
        "codes", {"ons_ivfpq_residual": bool(by_residual)}
    )


def _check_residual_flag(coded: SparkDF, by_residual: bool) -> None:
    """Refuse a coded table whose build-geometry flag disagrees with
    ``by_residual``: residual codes scored or stored as raw ones (or
    vice versa) give plausible-looking garbage distances, never an
    error downstream. The flag is the ``codes`` column metadata stamped
    by :func:`_tag_residual`, falling back to the legacy
    ``_ons_ivfpq_residual`` Python attribute for frames produced by
    older builds that are still alive in a session; an untagged table
    passes."""
    try:
        md = coded.schema["codes"].metadata
    except Exception:  # noqa: BLE001 — no codes column: not a coded table
        md = None
    if md and "ons_ivfpq_residual" in md:
        built = bool(md["ons_ivfpq_residual"])
    else:
        built = getattr(coded, "_ons_ivfpq_residual", None)
    if built is not None and built != bool(by_residual):
        raise ValueError(
            f"coded table was built with by_residual={built} but is "
            f"used with by_residual={bool(by_residual)} — codes from one "
            "geometry scored in the other are meaningless; pass the "
            "same flag to both"
        )


def _tombstones_path(store_path: str, generation: str) -> str:
    """The tombstone substore paired with one coded generation. The name
    deliberately starts with ``coded_`` so :func:`coded_table_save`'s
    post-commit sweep retires it together with the generation it
    annotates — a re-save or a tombstone-applying compaction rebuilds
    the live set from scratch, at which point stale deletes must not
    outlive the rows they referred to."""
    return f"{store_path}/coded_{generation}__tombstones"


def coded_table_generation(
    codec: CodedTableCodec, spark, store_path: str,
    refuse_legacy: "str | None" = None,
):
    """``(index, generation)`` of a coded serving table: the
    fingerprint-validated index and the ``coded_<generation>``
    directory its last save committed — one driver read, no Spark job.

    An index meta whose ``coded_generation`` is NULL is the
    pre-generation layout (coded rows keyed by fingerprint alone, no
    ``batch_id`` partitioning) only if ``coded_<fingerprint>`` exists;
    the generation is then the fingerprint, unless ``refuse_legacy``
    (why the calling verb cannot run on that layout) is given, which
    raises. Without that directory the store is an index saved alone,
    not a serving table, and every verb raises."""
    index, meta = codec.load_index_with_meta(spark, f"{store_path}/index")
    generation = meta["coded_generation"]
    if generation is not None:
        return index, generation
    if not dir_exists(f"{store_path}/coded_{index.fingerprint}"):
        raise ValueError(
            f"{codec.label} index at {store_path!r} carries no "
            "coded-generation commit record — it is an index-only store "
            "(an index save alone), not a serving table; create one with "
            f"the {codec.label} table save"
        )
    if refuse_legacy:
        raise ValueError(
            f"store at {store_path!r} uses the pre-generation layout "
            "(coded directory keyed by fingerprint alone, no batch_id "
            f"partitioning) — {refuse_legacy}; re-save it once with the "
            f"{codec.label} table save"
        )
    return index, index.fingerprint


def coded_table_save(
    codec: CodedTableCodec, coded: SparkDF, index, path: str
) -> None:
    """Persist a whole coded serving table: the coded rows (a
    ``__list``-carrying build or encode output) as a fresh generation
    ``<path>/coded_<fingerprint>_<nonce>``, partitioned
    ``batch_id=-1/__list=<j>/`` so a probe's ``__list IN (...)`` filter
    prunes whole directories, then the index under ``<path>/index``
    recording that generation — the commit point. A crash in between
    leaves the OLD index paired with the OLD generation, both untouched;
    the nonce means even a same-index re-save never overwrites the live
    directory. Superseded ``coded_*`` directories (tombstones included)
    are deleted best-effort after the commit; stragglers are never
    read and go on the next save."""
    import uuid

    from pyarrow import fs as pafs

    if "__list" not in coded.columns:
        raise ValueError(
            f"coded table has no __list column — the {codec.label} table "
            "save persists an IVF build; for plain codes save the index "
            "alone and write the codes yourself"
        )
    if not index.coarse_centroids:
        raise ValueError(
            "index has no coarse centroids (plain index) — it cannot "
            "drive probe selection over a __list-partitioned table"
        )
    _check_residual_flag(coded, index.by_residual)
    generation = f"{index.fingerprint}_{uuid.uuid4().hex[:8]}"
    keep = f"coded_{generation}"
    partitioned_delta_append(
        coded, f"{path}/{keep}", partition_cols=("batch_id", "__list")
    )
    codec.save_index(
        coded.sparkSession, index, f"{path}/index",
        coded_generation=generation,
    )
    try:
        filesystem, root = _resolve_fs(path)
        for info in filesystem.get_file_info(
            pafs.FileSelector(root, recursive=False)
        ):
            if (
                info.type == pafs.FileType.Directory
                and info.base_name.startswith("coded_")
                and info.base_name != keep
            ):
                filesystem.delete_dir(info.path)
    except Exception:  # noqa: BLE001 — cleanup only, commit already done
        pass


def _live_coded_rows(
    codec: CodedTableCodec, spark, path: str, generation: str
) -> SparkDF:
    """One generation's serving rows ``(id, codes, __list)``: a scan
    with its schema from one parquet footer (no Spark job) and pending
    tombstones applied as a broadcast watermark anti-filter above it,
    so ``__list`` pruning still lands in PartitionFilters."""
    coded_path = f"{path}/coded_{generation}"
    try:
        coded = spark.read.schema(footer_schema(coded_path)).parquet(
            coded_path
        )
    except Exception as exc:
        raise ValueError(
            f"{codec.label} index at {path!r} points to coded generation "
            f"{generation} but {coded_path!r} is unreadable — either the "
            "store was torn by a crashed or manual edit (re-run the table "
            "save), or the base save was EMPTY and nothing has been "
            "appended yet (an empty parquet write carries no schema; the "
            "bootstrap-from-stream pattern is fine, but the first append "
            "must land before the first load)"
        ) from exc
    if "batch_id" not in coded.columns:  # the pre-generation layout
        return coded
    wm = load_tombstone_watermarks(spark, _tombstones_path(path, generation))
    return apply_tombstones(coded, wm).select("id", "codes", "__list")


def coded_table_load(codec: CodedTableCodec, spark, path: str):
    """Load a coded serving table → ``(coded, index)``: the committed
    generation's live rows (:func:`_live_coded_rows`) and the index
    that picked it, so a torn save can never serve a mismatched or
    partially written pair. Runs no Spark job."""
    index, generation = coded_table_generation(codec, spark, path)
    return _live_coded_rows(codec, spark, path, generation), index


def coded_table_append(
    codec: CodedTableCodec,
    df: SparkDF,
    store_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: "int | None" = None,
    method: str = "auto",
) -> None:
    """Append one batch of NEW vectors: encode them with the STORED
    index (``codec.encode`` — no retraining, every persisted code stays
    valid) and land them as a ``batch_id`` partition inside the live
    generation, through :func:`partitioned_delta_append` — a replay of
    the same non-negative ``batch_id`` statically overwrites exactly
    its own partition; sentinel appends (``batch_id=None``) are not
    retry-safe. The batch is validated in ONE aggregate pass before
    anything is written: NULL vectors or elements and dimension
    mismatches raise. An empty SENTINEL batch raises (a caller
    mistake); an empty batch WITH an id truncates its own partition
    (the replay-truncate rule, so a streaming maintainer never
    crash-loops on an empty micro-batch)."""
    index, generation = coded_table_generation(
        codec, df.sparkSession, store_path,
        refuse_legacy="appending would corrupt partition discovery",
    )
    bad_vec = (
        F.col(vec_col).isNull()
        | (F.size(vec_col) != index.dim)
        | F.exists(vec_col, lambda x: x.isNull())
    )
    chk = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(bad_vec.cast("int")).alias("bad"),
    ).collect()[0]
    if chk["n"] == 0 and batch_id is None:
        raise ValueError("append batch is empty — nothing to encode")
    if chk["bad"]:
        raise ValueError(
            f"append batch has {chk['bad']} row(s) whose {vec_col!r} is "
            f"NULL, has a NULL element, or is not {index.dim}-dim — the "
            "stored index cannot encode them; fix the batch upstream"
        )
    partitioned_delta_append(
        codec.encode(df, index, id_col, vec_col, method=method),
        f"{store_path}/coded_{generation}", batch_id,
        partition_cols=("batch_id", "__list"),
    )


def coded_table_delete(
    codec: CodedTableCodec, spark, store_path: str, ids: Sequence,
    batch_id: int,
) -> None:
    """Delete vectors by id: one tombstone batch under the live
    generation (:func:`append_tombstones` — it kills every row for the
    id written at or before ``batch_id``, and a LATER append of the id
    serves again). O(ids), never a rewrite; the ids are written in the
    coded table's own id dtype (one footer read) so the watermark
    equi-join never casts. Deleting an id the store never held is a
    no-op filter; an append and a delete must not share a
    ``batch_id``."""
    from pyspark.sql.types import StructField, StructType

    from ons_utils_spark.functions.localrel import local_rows_df

    _, generation = coded_table_generation(
        codec, spark, store_path,
        refuse_legacy="its rows carry no order for the tombstone "
        "watermark to compare against",
    )
    ids = list(ids)
    if not ids:
        raise ValueError("delete batch is empty — nothing to tombstone")
    if any(x is None for x in ids):
        raise ValueError(
            "delete batch holds a NULL id — a NULL never equi-joins, "
            "so the delete would silently not happen"
        )
    if len(set(ids)) != len(ids):
        raise ValueError("duplicate ids in delete batch")
    id_type = footer_schema(f"{store_path}/coded_{generation}")["id"].dataType
    ids_df = local_rows_df(
        spark, [(x,) for x in ids],
        StructType([StructField("id", id_type, nullable=False)]),
    )
    append_tombstones(
        ids_df, _tombstones_path(store_path, generation), batch_id
    )


def coded_table_compact(
    codec: CodedTableCodec, spark, store_path: str
) -> None:
    """Collapse the live generation's ``batch_id`` partitions to the
    sentinel ``batch_id=-1/__list=<j>/`` layout. Without pending
    tombstones this is :func:`compact_store`'s crash-repairing
    rename-aside rewrite in place; the index (and its generation
    pairing) is untouched. With them, the live rows are re-saved as a
    FRESH generation (:func:`coded_table_save`): an in-place rewrite
    moves every row to batch ``-1``, where the stale watermarks would
    re-kill delete-then-reinsert rows, whereas the commit retires the
    old generation and its tombstones together.

    Compact only while the streaming maintainer is stopped and its
    checkpoint has advanced past every compacted batch: a replay of a
    compacted ``batch_id`` would re-append those vectors."""
    index, generation = coded_table_generation(
        codec, spark, store_path, refuse_legacy="there is nothing to compact",
    )
    coded = _live_coded_rows(codec, spark, store_path, generation)
    if dir_exists(_tombstones_path(store_path, generation)):
        coded_table_save(codec, coded, index, store_path)
        return
    compact_store(
        coded, f"{store_path}/coded_{generation}",
        partition_cols=("batch_id", "__list"),
    )


def coded_table_max_batch_id(
    codec: CodedTableCodec, spark, store_path: str
) -> "int | None":
    """The coded table's high-water mark: the largest ``batch_id`` over
    its live generation's coded AND tombstone partitions (a delete
    writes only tombstones) — listings only, no Spark job. ``None``
    before the first append or delete."""
    _, generation = coded_table_generation(codec, spark, store_path)
    marks = [max_batch_id(f"{store_path}/coded_{generation}")]
    tombs = _tombstones_path(store_path, generation)
    if dir_exists(tombs):
        marks.append(max_batch_id(tombs))
    return max((m for m in marks if m is not None), default=None)

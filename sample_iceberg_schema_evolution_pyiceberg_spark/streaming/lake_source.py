"""Log-driven streaming source for lake tables (Spark 4 Python Data
Source API): the snapshot log IS the offset log.

``LakeTable.stream_changes`` (table_format.py) streams through this
source, which drives micro-batches from the COMMITTED metadata, the
way Iceberg's own streaming read walks its snapshot log — never from
a filesystem listing, so uncommitted debris from a crashed write is
never streamed:

- offsets are snapshot sequence numbers (``{"seq": N}``): a
  micro-batch is exactly the append snapshots committed in
  ``(start.seq, end.seq]`` — a file that never got a metadata commit
  can never be streamed;
- a FRESH stream on a table whose history contains rewrites
  (overwrite/compact/DML) starts at the LATEST rewrite: that
  snapshot's full state is the base load, then appends stream
  incrementally. A rewrite landing inside an already-running (or
  checkpoint-recovered) stream's range fails loudly — the consumer
  holds pre-rewrite rows, so no append-only delta exists
  (``changes_between``'s contract);
- ``partitions()`` takes each snapshot's parquet files from its
  commit manifest (``Snapshot.files``; driver-side, metadata-priced,
  no listing); ``read()`` runs ON EXECUTORS and yields Arrow
  record batches — one task per data file, scan parallelism = file
  count, same as the batch path;
- schema alignment happens per file in Arrow, the executor-side form
  of ``LakeTable._as_current``: columns take the current names the
  driver-side ``LakeTable._renames_since`` map gives for the schema
  version the file was written under, then align RECURSIVELY (missing
  columns/struct fields -> nulls, promoted types -> cast, incl.
  structs and arrays-of-structs);
- per-batch admission control (``maxFilesPerTrigger`` option):
  offsets are file-granular — ``{"seq": N, "file": K}`` means the
  first K files of snapshot N are delivered — so a large snapshot or
  backfill splits across micro-batches at a file-count cap. Capped or
  not, one reader serves the stream (``LakeStreamReader``) and rows
  stay on executors, one task per file. ``latestOffset()`` has no
  start argument, so a capped stream's recovery safety comes from a
  monotonic position floor learned from the authoritative offsets
  Spark passes to ``partitions``/``commit`` (a post-restart regressed
  end plans an EMPTY batch instead of re-delivering the gap).
- CONTRACT — admission cap vs ``Trigger.AvailableNow``: Python data
  sources cannot declare AvailableNow support, so Spark falls back to
  SINGLE-batch execution. With a cap set, that one batch ends at the
  cap and the query stops — everything past the first quantum is NOT
  processed in this run (it resumes from the checkpoint on the next
  start, but a one-shot availableNow run has silently read a prefix).
  Use the cap with live triggers (processingTime), or availableNow
  without a cap; the s10 gate pins the uncapped-availableNow path.

The reader runs in its own worker process and re-reads the snapshot
log each batch, so the table's metadata backend must be
RECONSTRUCTIBLE there: ``stream_changes`` serializes
``FileIO.to_options()`` into the data-source options and this module
rebuilds a live backend via ``fileio_from_options`` — local
filesystems and ``DirectoryObjectStore``-backed object stores stream
alike. Only process-local in-memory fakes cannot (``to_options``
returns None; ``stream_changes`` raises before starting).

Usage::

    register_lake_stream(spark)          # once per session
    (spark.readStream.format("lake_stream")
          .option("path", str(table.location)).load())

Rows carry the CDC metadata columns ``_snapshot_id`` and
``_change_type`` ('insert'), like ``changes_between``. Triggers:
micro-batch and availableNow both work; Spark runs availableNow for
Python data sources as a single catch-up batch (no
SupportsTriggerAvailableNow in the Python bridge), which preserves
its process-everything-then-stop semantics coarsely.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

SOURCE_NAME = "lake_stream"
_META_FIELDS = [
    T.StructField("_snapshot_id", T.StringType()),
    T.StructField("_change_type", T.StringType()),
]


@dataclass
class _FilePartition(InputPartition):
    file_path: str
    snapshot_id: str
    # {name the file was written under -> current name}, planned on the
    # driver from the table's rename log (LakeTable._renames_since)
    renames: dict


def _align_arrow(arr, target):
    """Recursive Arrow alignment to a target type: struct fields are
    matched by name (missing -> nulls, extra -> dropped), lists recurse
    into their element type, everything else casts. The Arrow twin of
    table_format._align_expr — a plain ``cast`` throws on structs whose
    field sets differ, which is exactly the add-nested-field evolution
    this format supports."""
    import pyarrow as pa  # noqa: PLC0415

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.type.equals(target):
        return arr
    if pa.types.is_struct(target) and pa.types.is_struct(arr.type):
        children = []
        for i in range(target.num_fields):
            f = target.field(i)
            if arr.type.get_field_index(f.name) >= 0:
                children.append(_align_arrow(arr.field(f.name), f.type))
            else:
                children.append(pa.nulls(len(arr), type=f.type))
        return pa.StructArray.from_arrays(
            children,
            fields=[target.field(i) for i in range(target.num_fields)],
            mask=arr.is_null(),
        )
    if (
        pa.types.is_list(target) or pa.types.is_large_list(target)
    ) and (
        pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type)
    ):
        values = _align_arrow(arr.values, target.value_type)
        return pa.ListArray.from_arrays(
            arr.offsets.cast(pa.int32()), values, mask=arr.is_null()
        )
    return arr.cast(target)


class LakeStreamReader(DataSourceStreamReader):
    """The lake stream reader: offsets are planned from the snapshot
    log on the driver-side worker, data flows through executors (one
    task per data file). An offset is ``{"seq": N}`` (snapshot N fully
    delivered — legacy offsets included) or ``{"seq": N, "file": K}``
    (first K files of snapshot N delivered), optionally carrying
    ``base`` (the one non-append snapshot granted as a fresh stream's
    base load). With ``max_files`` set (``maxFilesPerTrigger``) each
    batch ends at most that many files past its start.

    Recovery safety under the cap: the Python streaming API gives
    ``latestOffset()`` no start argument, so after a restart a fresh
    reader instance would advance from the INITIAL offset and could
    hand Spark an end offset behind the checkpointed start — the
    next batch would then re-deliver rows in the gap. The guard is a
    monotonic position FLOOR learned from every authoritative offset
    Spark passes in (``partitions(start, ...)`` carries the
    checkpointed start on replay; ``commit(end)`` the completed end):
    ``partitions`` plans from ``max(start, floor)``, so a
    regressed-offset batch plans EMPTY instead of re-delivering, and
    the stream re-converges one empty micro-batch later. In normal
    operation the floor equals the previous batch's end and the
    clamp is a no-op."""

    def __init__(
        self,
        location: str,
        schema: T.StructType,
        io_options: dict | None = None,
        max_files: int = 0,
    ):
        self.location = location
        self.schema = schema
        # reconstructible metadata-backend handle (fileio.FileIO.to_options
        # serialized into the data-source options by stream_changes): the
        # reader runs in its own worker process, so the backend is rebuilt
        # here, not shared — {} means the local filesystem
        self.io_options = io_options or {}
        self.max_files = int(max_files)
        # authoritative position floor: fed ONLY by offsets Spark
        # passes in (partitions' start, commit's end) — the dup guard
        self._floor: dict | None = None
        # speculative high-water of our own latestOffset returns:
        # between latestOffset and the batch's commit, the floor still
        # points at the previous batch — advancing from the floor
        # alone would re-return the same end and Spark would declare
        # the stream caught up mid-backfill. Never used for clamping
        # (speculation ahead of an authoritative start must not skip
        # rows); dies with the instance, which is safe because the
        # floor alone prevents post-restart duplicates.
        self._emitted: dict | None = None
        # the initial offset THIS instance served to Spark, set only
        # by initialOffset() — which the engine calls only when the
        # offset log is EMPTY, i.e. for a genuinely NEW stream. That
        # makes it the one safe carrier of a base-load grant into the
        # first speculation (a RESTARTED instance never sees the call,
        # so it can never mint a grant a rewrite-after-checkpoint
        # would abuse).
        self._initial: dict | None = None

    def _io(self):
        from ..fileio import fileio_from_options  # noqa: PLC0415

        return fileio_from_options(self.io_options)

    def _table(self):
        from ..table_format import LakeTable  # noqa: PLC0415

        return LakeTable.load(self.location, io=self._io())

    def _snapshots(self):
        """Committed snapshots, live + history, in commit order."""
        return self._table().all_snapshots()

    def _files_of(self, s) -> list[str]:
        """A snapshot's parquet files — its commit manifest, never a
        directory listing — as sorted absolute paths, a STABLE order
        (offsets index into this list). A manifest rewrite
        (rewrite_manifests) lists the same files as its sources, which
        makes it a valid base load for fresh streams; a delete entry
        contributes no data files."""
        if s.is_row_delete:
            return []
        return sorted(os.path.join(self.location, f["path"]) for f in s.files)

    @staticmethod
    def _pos(off: dict) -> tuple[int, float]:
        f = off.get("file")
        return (off["seq"], float("inf") if f is None else f)

    def _initial_offset(self) -> dict:
        """Fresh stream: start at the latest rewrite boundary — the
        rewrite snapshot itself becomes the base load (its dir IS the
        table state), then appends stream incrementally. The base-load
        grant rides IN the offset (``base``): offsets are durable and
        replayed verbatim from the checkpoint, so the offset is the
        only reliable carrier."""
        # full-state rewrites only: a predicate-delete snapshot has no
        # data dir and cannot serve as a base load (tables carrying
        # live delete predicates need a compact() before streaming)
        snaps = self._snapshots()
        rewrites = [s for s in snaps if s.is_rewrite]
        if rewrites:
            base = rewrites[-1].sequence_number
            return {"seq": base - 1, "base": base}
        if snaps and all(s.sequence_number == 0 for s in snaps):
            # legacy pre-sequence-number metadata: every snapshot
            # carries sequence_number 0 — starting at seq 0 would
            # place ALL existing rows outside the half-open
            # (start, end] range and silently never stream them;
            # start below the log instead
            return {"seq": -1}
        return {"seq": 0}

    def _advance(
        self, start: dict, max_files: int, fresh: bool = False
    ) -> dict:
        """The offset at most ``max_files`` files past ``start``
        (0 = unbounded -> the true latest), stopping mid-snapshot
        with a (seq, file) offset when the cap lands inside one.
        ``fresh`` marks the grant-less speculation of a fresh capped
        reader instance (latestOffset with no floor): it must not
        advance INTO or PAST an ungranted manifest rewrite — stopping
        just before it makes batch 1 an empty bootstrap, after which
        the floor carries the authoritative grant from partitions'
        start and the base chunks normally under the cap (r13 review
        finding: speculating past the fold handed Spark the ENTIRE
        union as one uncapped batch)."""
        snaps = self._snapshots()
        if not snaps:
            return {"seq": start.get("seq", 0)}
        start_pos = self._pos(start)
        base = start.get("base")
        end = {k: v for k, v in start.items() if k != "base"}
        budget = max_files if max_files > 0 else float("inf")
        for s in snaps:
            seq = s.sequence_number
            if (seq, float("inf")) <= start_pos:
                continue
            files = self._files_of(s)
            if s.source_snapshots and base != seq:
                if fresh:
                    # grant-less speculation: stop BEFORE the fold —
                    # the next batch's floor carries the real grant
                    break
                # a manifest rewrite (rewrite_manifests) crossed
                # MID-STREAM is content-preserving — the consumer
                # already holds every row, so it contributes ZERO
                # files to the quantum walk (matching _plan_files'
                # skip; counting them here would chunk into it and
                # re-deliver), and the walk passes it ATOMICALLY —
                # never minting a mid-fold offset, which keeps every
                # mid-fold offset a proof of granted delivery.
                files = []
            done = (
                int(start_pos[1])
                if seq == start_pos[0] and start_pos[1] != float("inf")
                else 0
            )
            remaining = len(files) - done
            if remaining <= budget:
                budget -= remaining
                end = {"seq": seq}
                if budget == 0:
                    break
            else:
                end = {"seq": seq, "file": done + int(budget)}
                break
        # the base-load grant rides in every offset that has not PASSED
        # the granted snapshot (end.seq <= base): a cap landing inside a
        # large base snapshot chunks it across several micro-batches, and
        # each chunk's end offset must keep the grant or the NEXT batch's
        # range crosses the rewrite ungranted and wedges irrecoverably
        # (ADVICE r12 high finding). Once end.seq > base the grant is
        # consumed and drops; a range that crossed the base in one gulp
        # is granted through its start offset.
        if base is not None and end["seq"] <= base:
            end["base"] = base
        return end

    def _plan_files(self, start: dict, end: dict) -> list[_FilePartition]:
        """Files in the file-granular half-open interval (start, end],
        refusing ranges that cross a non-granted rewrite."""
        from ..table_format import TableFormatError  # noqa: PLC0415

        start_pos, end_pos = self._pos(start), self._pos(end)
        table = self._table()
        rng = [
            s
            for s in table.all_snapshots()
            if (s.sequence_number, float("inf")) > start_pos
            and (s.sequence_number, 0) <= end_pos
        ]
        # a non-append snapshot streams ONLY as the base load its own
        # initial offset granted — any other rewrite in range means
        # the consumer holds pre-rewrite rows
        granted = {start.get("base"), end.get("base")}
        # a mid-snapshot start offset pointing INTO a DATA rewrite
        # (compact/overwrite) is itself proof of a prior grant:
        # offsets are only ever minted by _advance/_initial_offset,
        # _advance counts a data rewrite's files unconditionally, and
        # delivering ANY of them requires this very check to have
        # passed with the snapshot granted — so a checkpointed
        # {"seq": N, "file": K>0} on rewrite N can only descend from a
        # granted base load. This keeps a RESTART landing
        # mid-chunked-base-load recoverable even when the replayed
        # start predates the grant-carrying offsets. MANIFEST rewrites
        # are excluded: their granted chunk ends always carry the
        # explicit base (the fresh bootstrap stops before an ungranted
        # fold, so batch 1 can't orphan a grant-less mid-fold offset),
        # and an ungranted walk passes them atomically — inferring
        # here would let a walked-over offset re-deliver fold files.
        if start_pos[1] != float("inf") and start_pos[1] > 0:
            s0 = next(
                (s for s in rng if s.sequence_number == start_pos[0]), None
            )
            if (
                s0 is not None
                and s0.operation != "append"
                and not s0.source_snapshots
            ):
                granted.add(s0.sequence_number)
        # manifest rewrites (rewrite_manifests) crossed mid-stream are
        # content-preserving: the consumer holds every row already, so
        # they SKIP (no files, no error — Iceberg's streaming read
        # skips 'replace' snapshots the same way). Granted as a base
        # load they deliver normally. Mirrors _advance's zero-count.
        rng = [
            s
            for s in rng
            if not (
                s.source_snapshots
                and s.sequence_number not in granted
            )
        ]
        bad = [
            s.snapshot_id
            for s in rng
            if s.operation != "append" and s.sequence_number not in granted
        ]
        if bad:
            raise TableFormatError(
                f"streaming read range crosses non-append snapshot(s) "
                f"{bad}: the consumer holds pre-rewrite rows, no "
                "append-only delta exists — start a NEW stream (a fresh "
                "stream base-loads from the latest rewrite)"
            )
        parts: list[_FilePartition] = []
        for s in rng:
            files = self._files_of(s)
            lo = (
                int(start_pos[1])
                if s.sequence_number == start_pos[0]
                and start_pos[1] != float("inf")
                else 0
            )
            hi = (
                int(end_pos[1])
                if s.sequence_number == end_pos[0]
                and end_pos[1] != float("inf")
                else len(files)
            )
            # each file's rename map comes from the schema version of
            # the entry that lists it: a manifest fold's files keep
            # their SOURCE snapshots' versions
            renames = {}
            for x in table._live_state([s])[0]:
                ren = table._renames_since(x.schema_version)
                for f in x.files:
                    renames[os.path.join(self.location, f["path"])] = ren
            parts.extend(
                _FilePartition(f, s.snapshot_id, renames[f])
                for f in files[lo:hi]
            )
        return parts

    def _aligned_table(self, partition: _FilePartition):
        """One parquet file -> Arrow table aligned to the stream
        schema, the Arrow form of ``LakeTable._as_current``: hidden
        ``_p_*`` partition columns drop, columns take the current names
        ``partitions`` mapped from the rename log (``partition.renames``),
        alignment is recursive (``_align_arrow``), and the CDC metadata
        columns append."""
        import pyarrow as pa  # noqa: PLC0415
        import pyarrow.parquet as pq  # noqa: PLC0415
        from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

        from ..partitioning import PARTITION_COL_PREFIX  # noqa: PLC0415

        out_schema = to_arrow_schema(self.schema)
        src = pq.read_table(partition.file_path)
        src = src.drop_columns(
            [c for c in src.column_names if c.startswith(PARTITION_COL_PREFIX)]
        )
        src = src.rename_columns(
            [partition.renames.get(c, c) for c in src.column_names]
        )
        n = src.num_rows
        cols = [
            _align_arrow(src[f.name], f.type)
            if f.name in src.column_names
            else pa.nulls(n, type=f.type)
            for f in list(out_schema)[: -len(_META_FIELDS)]
        ]
        cols.append(pa.array([partition.snapshot_id] * n, type=pa.string()))
        cols.append(pa.array(["insert"] * n, type=pa.string()))
        return pa.table(cols, schema=out_schema)


    def _learn(self, off: dict) -> None:
        if self._floor is None or self._pos(off) > self._pos(self._floor):
            new = dict(off)
            # preserve the base-load grant across mid-snapshot floor
            # advances: commit()'s end may predate the grant-carrying
            # offsets (batch 1 of a fresh stream speculates without the
            # grant), but the floor learned it from partitions' start —
            # dropping it here would wedge the next chunk of a base
            # snapshot larger than the cap (ADVICE r12 high finding)
            if "base" not in new and self._floor is not None:
                b = self._floor.get("base")
                if b is not None and new["seq"] <= b:
                    new["base"] = b
            self._floor = new

    def initialOffset(self) -> dict:
        self._initial = self._initial_offset()
        return dict(self._initial)

    def latestOffset(self) -> dict:
        if self.max_files <= 0:
            snaps = self._snapshots()
            return {"seq": snaps[-1].sequence_number if snaps else 0}
        candidates = [c for c in (self._floor, self._emitted) if c is not None]
        if candidates:
            start = max(candidates, key=self._pos)
            # borrow the floor's base-load grant when the winning
            # candidate lacks it (a pre-grant speculation can outrun
            # the floor by position while the grant still applies)
            if "base" not in start and self._floor is not None:
                b = self._floor.get("base")
                if b is not None and start["seq"] <= b:
                    start = {**start, "base": b}
        elif self._initial is not None and self._initial.get("base"):
            # genuinely NEW stream: Spark called initialOffset() on
            # THIS instance (the engine does that only when the offset
            # log is empty), so its base-load grant is authoritative —
            # speculate WITH it, letting a manifest-rewrite base chunk
            # under the cap with grant-carrying end offsets (r13
            # review finding: the grant-less speculation either handed
            # the entire fold to one uncapped batch or stalled).
            start = dict(self._initial)
        else:
            # fresh RESTARTED instance (no initialOffset call), no
            # authoritative position yet: speculate from the initial
            # offset WITHOUT its base-load grant — minting one would
            # let a rewrite committed after the checkpoint stream as
            # a full base load and re-deliver every pre-rewrite row
            # the consumer already holds. A data-rewrite crossing
            # raises the loud 'start a NEW stream' error; an
            # ungranted manifest rewrite stops the walk instead
            # (fresh=True) — the floor learned from the next
            # partitions() call carries the real grant forward.
            start = {
                k: v
                for k, v in self._initial_offset().items()
                if k != "base"
            }
            end = self._advance(start, self.max_files, fresh=True)
            self._emitted = dict(end)
            return end
        end = self._advance(start, self.max_files)
        self._emitted = dict(end)
        return end

    def partitions(self, start: dict, end: dict):
        self._learn(start)
        eff = (
            self._floor
            if self._pos(self._floor) > self._pos(start)
            else start
        )
        if self._pos(eff) >= self._pos(end):
            return []  # regressed/stale range: already delivered
        return self._plan_files(eff, end)

    def commit(self, end: dict) -> None:
        self._learn(end)

    # -- data-plane (executors) ----------------------------------------

    def read(self, partition: _FilePartition):
        yield from self._aligned_table(partition).to_batches()


class LakeStreamDataSource(DataSource):
    """``spark.readStream.format("lake_stream")`` — see module
    docstring. Required option: ``path`` (the table location)."""

    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def _io_options(self) -> dict:
        # pass-through of the serialized FileIO handle (option names
        # arrive lowercased from Spark)
        return {
            k: self.options[k]
            for k in (
                "io", "ioroot",
                "iobucket", "ioprefix", "ioregion", "ioendpoint",
            )
            if k in self.options
        }

    def schema(self) -> T.StructType:
        from ..fileio import fileio_from_options  # noqa: PLC0415
        from ..table_format import LakeTable  # noqa: PLC0415

        table = LakeTable.load(
            self.options["path"],
            io=fileio_from_options(self._io_options()),
        )
        return T.StructType(list(table.schema.fields) + _META_FIELDS)

    def streamReader(self, schema: T.StructType) -> LakeStreamReader:
        return LakeStreamReader(
            self.options["path"],
            schema,
            self._io_options(),
            int(self.options.get("maxfilespertrigger", 0)),
        )


def register_lake_stream(spark: SparkSession) -> None:
    """Idempotent session registration of the lake_stream source."""
    spark.dataSource.register(LakeStreamDataSource)

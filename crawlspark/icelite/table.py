"""icelite — Iceberg-semantics snapshot layer over partitioned Parquet.

The sandbox has no Iceberg runtime (SURVEY.md §4.4), so the engine's
checkpoint/resume contract is implemented directly:

- a *snapshot* = one immutable manifest JSON naming, per table, the data
  files written for that commit plus per-partition row counts (lineage /
  fetch-parse metrics live in ``meta``);
- commits are atomic: data files land first, the manifest is written to a
  temp file and ``os.replace``d, then the ``_current`` pointer is
  ``os.replace``d — readers only ever follow ``_current`` → manifest →
  files, so a crash mid-commit leaves the previous snapshot intact;
- rollback = point ``_current`` at an older retained manifest;
- row-level deletes = ``commit_delete``: an Iceberg-v2 EQUALITY-DELETE
  commit writes a small parquet of key values and records it in the
  manifest — no data file is rewritten; ``load`` applies merge-on-read
  anti-joins with SEQUENCE correctness (a delete only filters data
  files committed BEFORE it, so a key re-appended after the delete
  survives — Iceberg's sequence-number rule). A DataFrame rewrite of
  the table compacts deletes away; by-reference appends inherit them;
- maintenance = ``expire_snapshots(keep_last=N)``: drops all older
  manifests and sweeps catalog-owned data dirs no surviving manifest
  references (Iceberg's expire_snapshots + remove_orphan_files) — at
  10^10 rows the un-GC'd compaction history is otherwise a storage leak;
- schema evolution = each table's manifest entry records the committed
  Spark schema; ``load`` pins the read to the SNAPSHOT's schema, so
  files written before an add-column surface the new column as null and
  files written before a drop-column have it projected away — Iceberg's
  add/drop semantics without a mergeSchema footer sweep. Commits verify
  the new schema against the parent's (surviving columns keep their
  type; only additive/drop changes pass).

On a cluster with a real Iceberg catalog the engine's state tables bind
to ``spark.read.format('iceberg')`` instead — this module is deliberately
interface-shaped (commit / latest / load) for that swap.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession

# manifest column stats: per-file min/max for these columns when present
# (Iceberg's lower/upper bounds) — the pruning surface prune_files reads
STATS_COLS = ("discovery_seq", "registered_domain", "host", "url_hash", "depth")

# two-level manifests (Iceberg's manifest-list → manifest structure):
# a table whose commit references more than GROUP_SIZE data files gets
# its file entries sharded into group manifest JSONs of GROUP_SIZE each;
# the snapshot manifest then stores only O(#groups) group refs (path,
# count, rows, content hash), so loading a snapshot parses O(groups),
# not O(files), and unchanged groups are REUSED verbatim across commits
# (append commits rewrite nothing but the tail group). Small tables keep
# inline entries — byte-identical manifests to the single-level layout.
GROUP_SIZE = 1000


def scan_parquet_stats(
    path: str, cols: tuple[str, ...] | None = None
) -> list[dict[str, Any]]:
    """Per-data-file lineage metrics for every parquet file under
    ``path``: bytes from the filesystem, rows + column bounds from the
    parquet footer — no Spark job. ``cols`` overrides the default
    STATS_COLS bounds surface (e.g. z-ordered tables record bounds for
    their clustering columns). ``file`` is ABSOLUTE here; callers
    that store entries in a manifest relativize it. rows is None when
    the footer can't be read (never a sentinel that could be summed)."""
    import pyarrow.parquet as _pq

    out = []
    for dirpath, _, fnames in os.walk(path):
        for fn in sorted(fnames):
            if not fn.endswith(".parquet"):
                continue
            fp = os.path.join(dirpath, fn)
            nrows, bounds = None, {}
            try:
                md = _pq.ParquetFile(fp).metadata
                nrows = md.num_rows
                names = {
                    md.schema.column(i).name: i for i in range(md.num_columns)
                }
                for col in (cols if cols is not None else STATS_COLS):
                    ci = names.get(col)
                    if ci is None:
                        continue
                    lo, hi = None, None
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(ci).statistics
                        if st is None or not st.has_min_max:
                            lo = hi = None
                            break
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
                    if lo is not None:
                        bounds[col] = [
                            lo if not isinstance(lo, bytes) else lo.decode("utf-8", "replace"),
                            hi if not isinstance(hi, bytes) else hi.decode("utf-8", "replace"),
                        ]
            except Exception:
                pass
            entry = {"file": fp, "bytes": os.path.getsize(fp), "rows": nrows}
            if bounds:
                entry["bounds"] = bounds
            out.append(entry)
    return out


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    tables: dict[str, dict[str, Any]]
    meta: dict[str, Any]

    def to_json(self) -> str:
        return json.dumps(
            {
                "snapshot_id": self.snapshot_id,
                "parent_id": self.parent_id,
                "tables": self.tables,
                "meta": self.meta,
            },
            indent=1,
            sort_keys=True,
        )


class SchemaEvolutionError(ValueError):
    """A commit changed an existing column's type (or other
    non-additive, non-drop schema change) — the files already in the
    snapshot lineage could no longer be read under the new schema."""


# Iceberg's legal primitive promotions — Spark 4's vectorized parquet
# reader upcasts these on read when the scan schema is wider than the
# file schema (probed: int32 files read under long/double schemas).
_WIDENINGS = {("integer", "long"), ("float", "double")}


def check_schema_evolution(old: dict, new: dict) -> None:
    """Validate that ``new`` (Spark StructType.jsonValue dict) is a legal
    evolution of ``old``: every column present in both keeps its exact
    type or widens along Iceberg's promotion lattice (int→long,
    float→double); columns may be added or dropped. Raises
    SchemaEvolutionError otherwise."""
    old_fields = {f["name"]: f["type"] for f in old.get("fields", [])}
    for f in new.get("fields", []):
        t = old_fields.get(f["name"])
        if t is not None and t != f["type"] and (t, f["type"]) not in _WIDENINGS:
            raise SchemaEvolutionError(
                f"column {f['name']!r} changed type {t!r} -> {f['type']!r}; "
                "only add/drop and int->long / float->double widenings are "
                "readable over existing files"
            )


class IceliteCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "manifests", "groups"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        # group-manifest entry cache: group files are immutable (content-
        # hash named refs), so parsed entries are shared across snapshots
        self._group_cache: dict[str, list[dict[str, Any]]] = {}

    # -- two-level manifest helpers -------------------------------------
    def files(self, snapshot: Snapshot, name: str) -> list[dict[str, Any]]:
        """Per-data-file entries of a table — inline for small tables,
        lazily loaded + cached from group manifests for large ones. This
        is the ONLY sanctioned reader of file entries: callers must not
        assume ``tables[name]['files']`` exists (Iceberg readers plan
        from the manifest list and open manifests on demand)."""
        info = snapshot.tables.get(name) or {}
        if "files" in info:
            return info["files"]
        out: list[dict[str, Any]] = []
        for ref in info.get("file_groups", []):
            gp = ref["manifest"]
            if gp not in self._group_cache:
                with open(os.path.join(self.root, gp)) as f:
                    self._group_cache[gp] = json.load(f)["files"]
            out.extend(self._group_cache[gp])
        return out

    def _pack_files(
        self, name: str, sid: int, files: list[dict[str, Any]],
        parent: "Snapshot | None",
    ) -> dict[str, Any]:
        """files → manifest fragment: inline when small; sharded into
        GROUP_SIZE group manifests when large, reusing any parent group
        whose serialized content is identical (append commits re-write
        only the tail group — O(new files), not O(table))."""
        if len(files) <= GROUP_SIZE:
            return {"files": files}
        import hashlib

        prev = {}
        if parent is not None:
            for ref in (parent.tables.get(name) or {}).get("file_groups", []):
                prev[ref.get("hash")] = ref
        refs = []
        for k in range(0, len(files), GROUP_SIZE):
            chunk = files[k : k + GROUP_SIZE]
            body = json.dumps({"files": chunk}, sort_keys=True)
            h = hashlib.md5(body.encode()).hexdigest()
            if h in prev and prev[h]["n_files"] == len(chunk):
                refs.append(prev[h])  # unchanged group: reuse, no write
                continue
            rel = os.path.join("manifests", "groups", f"g-{name}-{h}.json")
            gp = os.path.join(self.root, rel)
            if not os.path.exists(gp):
                tmp = gp + f".tmp{sid}"
                with open(tmp, "w") as f:
                    f.write(body)
                os.replace(tmp, gp)
            refs.append(
                {
                    "manifest": rel,
                    "n_files": len(chunk),
                    "rows": sum(c["rows"] or 0 for c in chunk),
                    "hash": h,
                }
            )
        return {"file_groups": refs}

    # -- read side ----------------------------------------------------
    def latest(self) -> Snapshot | None:
        cur = os.path.join(self.root, "_current")
        if not os.path.exists(cur):
            return None
        with open(cur) as f:
            manifest_path = f.read().strip()
        with open(os.path.join(self.root, manifest_path)) as f:
            d = json.load(f)
        return Snapshot(d["snapshot_id"], d["parent_id"], d["tables"], d["meta"])

    def snapshot(self, snapshot_id: int) -> Snapshot:
        """Time-travel handle: load a RETAINED snapshot by id without
        moving ``_current`` (Iceberg's read-as-of / VERSION AS OF).
        Raises FileNotFoundError once ``expire_snapshots`` has dropped
        the manifest — expired ids are not readable, same contract as
        rollback targets."""
        mpath = os.path.join(
            self.root, "manifests", f"snapshot-{snapshot_id:06d}.json"
        )
        with open(mpath) as f:
            d = json.load(f)
        return Snapshot(d["snapshot_id"], d["parent_id"], d["tables"], d["meta"])

    def changelog(
        self,
        spark: SparkSession,
        from_snapshot: Snapshot,
        to_snapshot: Snapshot,
        name: str,
    ) -> DataFrame | None:
        """Incremental append scan (Iceberg's changelog/incremental read,
        CDC surface): the rows ADDED to table ``name`` between two
        snapshots — exactly the data files listed by ``to_snapshot`` but
        not by ``from_snapshot``, read with the target snapshot's pinned
        schema. No diffing of row contents happens: manifests name the
        delta, so the scan plans from JSON alone and reads only the new
        files — O(appended data), not O(table).

        Only append histories are incremental-readable: if any file of
        ``from_snapshot`` is gone in ``to_snapshot`` the table was
        rewritten in between (compaction / merge-on-read fold) and an
        append diff would be wrong — raises ValueError, matching
        Iceberg's incremental-scan restriction. Returns None when
        nothing was appended."""
        old_info = from_snapshot.tables.get(name)
        new_info = to_snapshot.tables.get(name)
        if new_info is None:
            return None
        old_files = (
            {f["file"] for f in self.files(from_snapshot, name)}
            if old_info is not None
            else set()
        )
        new_files = [f["file"] for f in self.files(to_snapshot, name)]
        if not new_files:
            # no per-file manifest entries — fall back to whole-dir diff
            old_paths = set(self.paths(from_snapshot, name))
            added = [
                p for p in self.paths(to_snapshot, name) if p not in old_paths
            ]
            if set(old_paths) - set(self.paths(to_snapshot, name)):
                raise ValueError(
                    f"table {name!r} was rewritten between snapshots "
                    f"{from_snapshot.snapshot_id} and "
                    f"{to_snapshot.snapshot_id}; changelog needs an "
                    "append-only history"
                )
        else:
            missing = old_files - set(new_files)
            if missing:
                raise ValueError(
                    f"table {name!r} was rewritten between snapshots "
                    f"{from_snapshot.snapshot_id} and "
                    f"{to_snapshot.snapshot_id} ({len(missing)} files "
                    "dropped); changelog needs an append-only history"
                )
            added = [
                os.path.join(self.root, f) for f in new_files if f not in old_files
            ]
        if not added:
            return None
        reader = spark.read
        if new_info.get("schema") is not None:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(new_info["schema"]))
        return reader.parquet(*added)

    def load(self, spark: SparkSession, snapshot: Snapshot, name: str) -> DataFrame | None:
        info = snapshot.tables.get(name)
        if info is None:
            return None
        paths = self.paths(snapshot, name)
        # rows == 0 means empty only when every footer was readable
        if not paths or (info["rows"] == 0 and not info.get("rows_unknown")):
            return None
        reader = spark.read
        if info.get("schema") is not None:
            # pin the read to the SNAPSHOT's schema (schema evolution):
            # files predating an add-column fill it with nulls, files
            # predating a drop-column have it projected away — and no
            # mergeSchema footer sweep runs at scan planning
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(info["schema"]))
        deletes = info.get("deletes") or []
        entries = self.files(snapshot, name) if deletes else []
        if not deletes or not entries:
            return reader.parquet(*paths)
        return self._apply_deletes(spark, reader, entries, deletes)

    def _apply_deletes(self, spark, reader, entries, deletes) -> DataFrame:
        """Merge-on-read with Iceberg's sequence-number rule: a delete
        filters only data files whose commit seq PRECEDES the delete's.
        Deletes are manifest-ordered by seq, so the deletes applicable
        to a file form a SUFFIX of that list — files group by suffix
        start, each group anti-joins its suffix, groups union. Delete
        files are tiny key sets (AQE broadcasts the anti-join build
        side); the union is #distinct-delete-boundaries wide, not
        #files."""
        from functools import reduce

        dseqs = [d["seq"] for d in deletes]
        groups: dict[int, list[str]] = {}
        for f in entries:
            fseq = f.get("seq", -1)
            start = next((i for i, s in enumerate(dseqs) if s > fseq), len(dseqs))
            groups.setdefault(start, []).append(
                os.path.join(self.root, f["file"])
            )
        parts = []
        for start, files in sorted(groups.items()):
            df = reader.parquet(*files)
            for d in deletes[start:]:
                keys = spark.read.parquet(os.path.join(self.root, d["path"]))
                df = df.join(keys, on=list(d["equality_cols"]), how="left_anti")
            parts.append(df)
        return reduce(lambda a, b: a.unionByName(b), parts)

    def prune_files(
        self, snapshot: Snapshot, name: str, col: str, lo, hi
    ) -> list[str] | None:
        """Manifest-level scan pruning: absolute paths of the table's
        data files whose [min, max] bounds for ``col`` intersect
        [lo, hi]. Files without recorded bounds are kept (never prune
        blind). Returns None when the table has no file list — caller
        falls back to the full paths(). This is the read-side contract
        the bounds exist for (Iceberg's scan planning)."""
        info = snapshot.tables.get(name)
        entries = self.files(snapshot, name) if info is not None else []
        if not entries:
            return None
        keep = []
        for f in entries:
            b = (f.get("bounds") or {}).get(col)
            if b is None or not (hi < b[0] or lo > b[1]):
                keep.append(os.path.join(self.root, f["file"]))
        return keep

    def paths(self, snapshot: Snapshot, name: str) -> list[str]:
        """Absolute data paths of a table in a snapshot (single-dir tables
        and append-only multi-part tables alike)."""
        info = snapshot.tables.get(name)
        if info is None:
            return []
        rel = info.get("paths", [info["path"]] if info.get("path") else [])
        return [os.path.join(self.root, p) for p in rel]

    # -- write side ---------------------------------------------------
    def commit(
        self,
        dfs: dict[str, "DataFrame | list[str] | None"],
        meta: dict[str, Any],
        partition_by: dict[str, list[str]] | None = None,
        schemas: dict[str, Any] | None = None,
        stats_cols: dict[str, list[str]] | None = None,
    ) -> Snapshot:
        """A table value may be a DataFrame (written into the snapshot dir)
        or a list of existing parquet dirs (append-only tables committed BY
        REFERENCE — Iceberg's append commit: the manifest lists the data
        files, nothing is rewritten).

        Schema evolution: DataFrame tables record ``df.schema`` in the
        manifest; by-reference tables record the StructType passed in
        ``schemas`` (else they inherit the parent snapshot's recorded
        schema — an append never silently changes the read schema). Any
        recorded schema is validated against the parent's via
        ``check_schema_evolution`` (add/drop only) BEFORE data is
        written, so an illegal evolution aborts with the previous
        snapshot intact."""
        parent = self.latest()
        sid = (parent.snapshot_id + 1) if parent else 0
        tables: dict[str, dict[str, Any]] = {}

        # resolve + validate every table's schema BEFORE any data write
        table_schemas: dict[str, dict | None] = {}
        for name, df in dfs.items():
            sch = (schemas or {}).get(name)
            if sch is not None and hasattr(sch, "jsonValue"):
                sch = sch.jsonValue()
            if sch is None and isinstance(df, DataFrame):
                sch = df.schema.jsonValue()
            prev_sch = (
                parent.tables.get(name, {}).get("schema")
                if parent is not None
                else None
            )
            if sch is None:
                sch = prev_sch  # appends inherit the read schema
            elif prev_sch is not None:
                check_schema_evolution(prev_sch, sch)
            table_schemas[name] = sch

        def _scan(path: str, name: str) -> list[dict[str, Any]]:
            """Per-partition (per-data-file) lineage metrics via the
            module-level ``scan_parquet_stats``, relativized to the
            catalog root — the manifest's north_rule surface: every data
            file a snapshot references carries its own row/byte/bounds
            accounting. ``stats_cols[name]`` extends the default bounds
            surface with the table's clustering columns."""
            extra = tuple((stats_cols or {}).get(name) or ())
            entries = scan_parquet_stats(path, STATS_COLS + extra)
            for e in entries:
                e["file"] = os.path.relpath(e["file"], self.root)
            return entries

        def _lineage(name: str, files: list[dict[str, Any]]) -> dict[str, Any]:
            """File-level diff vs the parent snapshot (Iceberg's
            added/existing split): resume auditing reads this to see
            exactly which partitions each commit contributed. Past
            GROUP_SIZE changed paths the explicit lists are dropped for
            counts (the per-file added flag is still derivable: a file's
            ``seq`` equals the snapshot id it was added in)."""
            prev = set()
            if parent is not None and name in parent.tables:
                prev = {f["file"] for f in self.files(parent, name)}
            cur = {f["file"] for f in files}
            added, removed = cur - prev, prev - cur
            if len(added) + len(removed) > GROUP_SIZE:
                return {
                    "added_n": len(added),
                    "removed_n": len(removed),
                    "existing": len(cur & prev),
                }
            return {
                "added": sorted(added),
                "removed": sorted(removed),
                "existing": len(cur & prev),
            }

        def _rows_total(files: list[dict[str, Any]]) -> tuple[int, int]:
            """(sum of known per-file rows, count of files whose footer was
            unreadable). Unknown files are EXCLUDED from the sum — the
            resume audits and fast counts treat the total as exact only
            when rows_unknown == 0."""
            known = sum(f["rows"] for f in files if f["rows"] is not None)
            unknown = sum(1 for f in files if f["rows"] is None)
            return known, unknown

        def _assign_seq(name: str, files: list[dict[str, Any]]) -> None:
            """Iceberg sequence numbers: a file keeps the seq of the
            commit that first added it (inherited by path from the
            parent manifest); fresh files get THIS commit's seq. The
            equality-delete reader uses this to scope deletes to data
            older than the delete."""
            prev = {}
            if parent is not None and name in parent.tables:
                prev = {
                    f["file"]: f.get("seq", -1)
                    for f in self.files(parent, name)
                }
            for f in files:
                f["seq"] = prev.get(f["file"], sid)

        for name, df in dfs.items():
            if isinstance(df, list):
                rels = [os.path.relpath(p, self.root) for p in df]
                # footer-scan reuse: parquet parts are immutable, so dirs
                # the parent snapshot already scanned keep their recorded
                # entries (incl. inherited seq) — an append
                # commit's footer I/O is O(new dirs), not O(table)
                prev_by_dir: dict[str, list[dict[str, Any]]] = {}
                if parent is not None and name in parent.tables:
                    prev_rels = set(parent.tables[name].get("paths", []))
                    for e in self.files(parent, name):
                        d = os.path.dirname(e["file"])
                        while d and d not in prev_rels:
                            nd = os.path.dirname(d)
                            if nd == d:
                                break
                            d = nd
                        if d in prev_rels:
                            prev_by_dir.setdefault(d, []).append(e)
                files = []
                for p, rel in zip(df, rels):
                    cached = prev_by_dir.get(rel)
                    files.extend(
                        cached if cached is not None else _scan(p, name)
                    )
                _assign_seq(name, files)
                rows, unknown = _rows_total(files)
                tables[name] = {
                    "paths": rels, "rows": rows,
                    "lineage": _lineage(name, files),
                    **self._pack_files(name, sid, files, parent),
                }
                # a by-reference APPEND keeps the parent's equality
                # deletes in force (nothing was rewritten); fresh files
                # carry seq = this commit, so older deletes skip them
                if parent is not None and parent.tables.get(name, {}).get("deletes"):
                    tables[name]["deletes"] = list(parent.tables[name]["deletes"])
                if table_schemas.get(name) is not None:
                    tables[name]["schema"] = table_schemas[name]
                if unknown:
                    tables[name]["rows_unknown"] = unknown
                continue
            rel = os.path.join("data", f"snap-{sid:06d}", name)
            path = os.path.join(self.root, rel)
            rows = 0
            files = []
            unknown = 0
            if df is not None:
                writer = df.write.mode("overwrite")
                pby = (partition_by or {}).get(name)
                if pby:
                    writer = writer.partitionBy(*pby)
                writer.parquet(path)
                files = _scan(path, name)
                _assign_seq(name, files)
                rows, unknown = _rows_total(files)
                # a DataFrame commit REWRITES the table: the caller
                # materialized current state (deletes applied on load),
                # so parent deletes are compacted away — none inherited
            tables[name] = {
                "path": rel, "rows": rows,
                "lineage": _lineage(name, files),
                **self._pack_files(name, sid, files, parent),
            }
            if table_schemas.get(name) is not None:
                tables[name]["schema"] = table_schemas[name]
            if unknown:
                tables[name]["rows_unknown"] = unknown
        snap = Snapshot(sid, parent.snapshot_id if parent else None, tables, meta)
        self._write_snapshot(snap)
        return snap

    def _write_snapshot(self, snap: Snapshot) -> None:
        """Atomic manifest + pointer flip (data files are already on
        disk): manifest lands via tmp+os.replace, then ``_current`` —
        a crash between the two leaves the previous snapshot current."""
        mrel = os.path.join("manifests", f"snapshot-{snap.snapshot_id:06d}.json")
        mpath = os.path.join(self.root, mrel)
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            f.write(snap.to_json())
        os.replace(tmp, mpath)
        cur_tmp = os.path.join(self.root, "_current.tmp")
        with open(cur_tmp, "w") as f:
            f.write(mrel)
        os.replace(cur_tmp, os.path.join(self.root, "_current"))

    def commit_delete(
        self,
        name: str,
        keys: DataFrame,
        equality_cols: list[str],
        meta: dict[str, Any] | None = None,
    ) -> Snapshot:
        """Iceberg-v2 EQUALITY-DELETE commit: write ``keys`` (projected
        to ``equality_cols``, deduplicated) as a small parquet delete
        file and record it in the manifest — NO data file is rewritten,
        every table entry carries over by reference. ``load`` then
        anti-joins the delete keys against data files whose seq precedes
        this commit's (sequence rule: rows re-appended later survive).
        O(delete keys) write cost regardless of table size — the
        row-level-delete path a 10^10-row frontier needs (deleting a
        domain's URLs without touching 10 TB of data files)."""
        parent = self.latest()
        if parent is None or name not in parent.tables:
            raise KeyError(f"no table {name!r} in the current snapshot")
        sid = parent.snapshot_id + 1
        rel = os.path.join("data", f"snap-{sid:06d}", f"{name}__eqdel")
        path = os.path.join(self.root, rel)
        keys.select(*equality_cols).distinct().write.mode("overwrite").parquet(path)
        n_keys = sum(
            e["rows"] or 0 for e in scan_parquet_stats(path, ())
        )

        tables = {t: dict(info) for t, info in parent.tables.items()}
        entry = tables[name]
        entry["deletes"] = list(entry.get("deletes") or []) + [
            {
                "path": rel,
                "equality_cols": list(equality_cols),
                "seq": sid,
                "rows": n_keys,
            }
        ]
        entry["lineage"] = {
            "added": [],
            "removed": [],
            "existing": len(entry.get("files", []))
            or sum(r.get("n_files", 0) for r in entry.get("file_groups", [])),
        }
        snap = Snapshot(sid, parent.snapshot_id, tables, meta or {})
        self._write_snapshot(snap)
        return snap

    def rollback(self, snapshot_id: int) -> Snapshot:
        """Point ``_current`` at an older RETAINED manifest (Iceberg's
        rollback_to_snapshot). Atomic (same tmp+replace as commit); the
        abandoned newer manifests stay on disk, so a rollback is itself
        reversible until the next commit overwrites that snapshot id or
        expire_snapshots drops it. Raises FileNotFoundError if the
        manifest was expired."""
        mrel = os.path.join("manifests", f"snapshot-{snapshot_id:06d}.json")
        mpath = os.path.join(self.root, mrel)
        with open(mpath) as f:
            d = json.load(f)
        cur_tmp = os.path.join(self.root, "_current.tmp")
        with open(cur_tmp, "w") as f:
            f.write(mrel)
        os.replace(cur_tmp, os.path.join(self.root, "_current"))
        return Snapshot(d["snapshot_id"], d["parent_id"], d["tables"], d["meta"])

    def lineage_df(
        self, spark: SparkSession, snapshot: Snapshot | None = None
    ) -> DataFrame:
        """The snapshot's per-partition lineage AS A DATAFRAME — one row
        per (table, data file) with rows/bytes/added-in-this-commit plus
        the snapshot ids, queryable like any other table (the north-rule
        'per-partition lineage + metrics' surface, read side). Built from
        manifest JSON only — no data-file scan, no Spark job until the
        caller acts on it."""
        snap = snapshot or self.latest()
        rows = []
        for tname, info in (snap.tables if snap else {}).items():
            lin = info.get("lineage") or {}
            added = set(lin.get("added", [])) if "added" in lin else None
            for f in self.files(snap, tname):
                rows.append(
                    (
                        snap.snapshot_id,
                        snap.parent_id,
                        tname,
                        f["file"],
                        f.get("rows"),
                        f.get("bytes"),
                        # count-only lineage (grouped tables): added ⟺
                        # the file's seq is this commit's
                        f["file"] in added
                        if added is not None
                        else f.get("seq") == snap.snapshot_id,
                    )
                )
        schema = (
            "snapshot_id long, parent_id long, table string, file string, "
            "rows long, bytes long, added boolean"
        )
        return spark.createDataFrame(rows, schema)

    # -- maintenance ----------------------------------------------------
    def expire_snapshots(self, keep_last: int = 2) -> dict[str, Any]:
        """Iceberg-style snapshot expiry + orphan-file removal: keep the
        newest ``keep_last`` manifests (always including the one
        ``_current`` points at), delete the rest, then sweep every table
        dir under the catalog-owned ``data/`` root that no SURVIVING
        manifest references — this also collects dirs stranded by a
        commit that crashed before its manifest landed. By-reference
        paths outside ``data/`` (the engine's append-only scratch
        deltas) are never touched: surviving manifests still reference
        them and their lifecycle belongs to the writer. Expired snapshot
        ids are no longer rollback targets — exactly Iceberg's
        ``expire_snapshots`` contract. Returns removal counts."""
        import shutil

        mdir = os.path.join(self.root, "manifests")
        manifests = sorted(
            f for f in os.listdir(mdir)
            if f.startswith("snapshot-") and f.endswith(".json")
        )
        cur_file = os.path.join(self.root, "_current")
        current = None
        if os.path.exists(cur_file):
            with open(cur_file) as f:
                current = os.path.basename(f.read().strip())
        keep = set(manifests[-max(keep_last, 1):])
        if current is not None:
            keep.add(current)
        expired = [m for m in manifests if m not in keep]

        protected: set[str] = set()
        live_groups: set[str] = set()
        for m in keep:
            try:
                with open(os.path.join(mdir, m)) as f:
                    d = json.load(f)
            except FileNotFoundError:
                continue
            for info in d.get("tables", {}).values():
                rels = info.get("paths") or (
                    [info["path"]] if info.get("path") else []
                )
                # equality-delete files are data too: a surviving
                # manifest's deletes must outlive the sweep or its
                # merge-on-read loads would resurrect deleted rows
                rels = rels + [dl["path"] for dl in info.get("deletes") or []]
                for r in rels:
                    protected.add(os.path.normpath(os.path.join(self.root, r)))
                for ref in info.get("file_groups", []):
                    live_groups.add(os.path.basename(ref["manifest"]))

        for m in expired:
            os.remove(os.path.join(mdir, m))

        # sweep group manifests no surviving snapshot references (they
        # are content-hash-shared across snapshots, so this is exactly
        # Iceberg's manifest-file GC)
        removed_groups = 0
        gdir = os.path.join(mdir, "groups")
        if os.path.isdir(gdir):
            for g in os.listdir(gdir):
                if g.endswith(".json") and g not in live_groups:
                    os.remove(os.path.join(gdir, g))
                    self._group_cache.pop(
                        os.path.join("manifests", "groups", g), None
                    )
                    removed_groups += 1

        removed_dirs = 0
        ddir = os.path.join(self.root, "data")
        for snapdir in sorted(os.listdir(ddir)) if os.path.isdir(ddir) else []:
            sd = os.path.join(ddir, snapdir)
            if not os.path.isdir(sd):
                continue
            for tname in sorted(os.listdir(sd)):
                td = os.path.normpath(os.path.join(sd, tname))
                if td not in protected:
                    shutil.rmtree(td, ignore_errors=True)
                    removed_dirs += 1
            if not os.listdir(sd):
                os.rmdir(sd)
        return {
            "expired_manifests": len(expired),
            "removed_data_dirs": removed_dirs,
            "removed_group_manifests": removed_groups,
            "kept_manifests": sorted(keep & set(manifests)),
        }

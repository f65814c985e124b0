"""Versioned-index catalog: manifest, atomic alias swap, lifecycle, checkpoints.

Re-expresses the reference's operational state, which lives across
Elasticsearch (indices + aliases) and Redis (current schema, active-schemas
set):

  * physical index per schema version named "{prefix}{alias}_{schema}"
    (OsuElasticClient.cs:91, AppSettings.cs:23)
  * atomic alias repoint at cutover (OsuElasticClient.cs:65-87 bulk-alias)
  * Redis `current schema` + `active-schemas` set (ScoreIndexer.cs:34-37,
    README.md:166-256)
  * index list w/ consistency audit (ListIndicesCommand.cs:25-80)
  * close / open / delete / nuke (Commands/Index/*.cs)
  * per-partition build checkpoints with lineage + counters (T8; the
    reference's resume cursor is PumpAllScoresCommand.cs:19-20,52)

Here all control state is JSON documents updated via write-tmp + os.replace
(atomic on POSIX). On a real cluster the same layout lives on object storage
with conditional-put (or an Iceberg control table); the operations below are
single-document swaps precisely so that port is mechanical.

Layout under a root directory:
  {root}/catalog.json                      # current index + active schemas
  {root}/{index_name}/manifest.json        # status, phases, counters
  {root}/{index_name}/{docmap,dictionary,segments,stats,tombstones}/  # parquet
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Any

TABLES = (
    "docmap", "dictionary", "dict_by_term", "segments", "stats",
    "tombstones", "fwd",
)

# on-disk index format version: bump when the segment/table layout changes
# so cached indexes from older builds are rebuilt, not misread
# (3 = doc-indexed norms: postings store docs+tfs only, dl read from fwd;
#  4 = generational dictionary: dictionary/dict_by_term are gen= append
#      tables of per-batch delta rows, merged at read)
FORMAT_VERSION = 4


def read_index_manifest(index_dir: str) -> dict | None:
    """Manifest by index directory (for readers holding only the path)."""
    return _read_json(os.path.join(index_dir, "manifest.json"), None)


def assert_index_readable(index_dir: str) -> None:
    """Closed-index READ refusal: in the reference, a closed ES index
    rejects searches as well as writes (CloseIndexCommand.cs; the alias
    cutover closes retired indices, OsuElasticClient.cs:70-86) — an
    operator draining an old version must notice, not silently keep
    serving it. Readers resolve their snapshot through the manifest
    anyway, so the status check costs nothing extra."""
    m = read_index_manifest(index_dir)
    if m is not None and m.get("status") == "closed":
        raise IndexClosedError(
            f"index at {index_dir} is closed — reopen it (open_index / "
            "`cli open`) before searching"
        )


def resolve_table_dir(
    index_dir: str, table: str, manifest: dict | None = None
) -> str:
    """Current physical directory of a logical table: the manifest's
    ``tables`` map names rewritten (versioned) tables; unmapped tables live
    under their plain name. Readers resolve through this so a half-written
    replacement (dictionary_v3 while the manifest still points at _v2) is
    invisible until the atomic manifest swap commits it. ``manifest``: an
    already-read manifest to resolve against (a reader pinning one
    snapshot); default the one on disk now."""
    m = manifest if manifest is not None else read_index_manifest(index_dir) or {}
    name = (m.get("tables") or {}).get(table, table)
    return os.path.join(index_dir, name)


def committed_gen_paths(
    index_dir: str, table: str, manifest: dict | None = None
) -> list[str]:
    """The COMMITTED generation directories of an append table (gen=K for
    K < manifest.generations). Data written by an in-flight or crashed
    generation (gen >= generations) is excluded — this is what makes the
    multi-table incremental commit atomic: every reader pins its snapshot
    to the manifest, and the manifest moves in one os.replace.
    ``manifest`` as in ``resolve_table_dir``.

    Falls back to [dir] for a legacy flat layout (files, no gen= subdirs)."""
    m = manifest if manifest is not None else read_index_manifest(index_dir) or {}
    root = resolve_table_dir(index_dir, table, m)
    if not os.path.isdir(root):
        return []
    gens = int(m.get("generations", 0))
    out = []
    has_gen_dirs = False
    for name in sorted(os.listdir(root)):
        if name.startswith("gen="):
            has_gen_dirs = True
            try:
                k = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if k < max(gens, 1):  # during a build, gen=0 is the job's own
                out.append(os.path.join(root, name))
    if not has_gen_dirs:
        return [root] if any(
            f.endswith(".parquet") for f in os.listdir(root)
        ) else []
    return out


def clean_orphan_generations(index_dir: str) -> list[str]:
    """Remove data left by a CRASHED generation: gen=K dirs with
    K >= manifest.generations, and versioned table dirs newer than the
    manifest's pointers. Called by writers on entry, so a foreachBatch
    replay (T7 at-least-once) re-applies onto a clean committed state
    instead of double-appending segments / losing delete deltas."""
    m = read_index_manifest(index_dir)
    if m is None:
        return []
    gens = int(m.get("generations", 0))
    tables_map = m.get("tables") or {}
    ver = int(m.get("table_ver", 0))
    removed = []
    for name in list(os.listdir(index_dir)):
        p = os.path.join(index_dir, name)
        if not os.path.isdir(p):
            continue
        base, _, suffix = name.rpartition("_v")
        if base in TABLES and suffix.isdigit():
            # versioned dir not (or no longer / not yet) pointed at
            if tables_map.get(base) != name and int(suffix) >= ver:
                shutil.rmtree(p)
                removed.append(p)
                continue
            if tables_map.get(base) != name:
                continue
            # pointed-at versioned dir: fall through to the gen= subdir
            # cleanup below — a crashed incremental after a compaction
            # stages gen=N inside segments_vK/tombstones_vK etc., and
            # those orphans must be cleared exactly like plain-name dirs
        if name in TABLES or name in tables_map.values():
            for sub in list(os.listdir(p)):
                if sub.startswith("gen="):
                    try:
                        k = int(sub.split("=", 1)[1])
                    except ValueError:
                        continue
                    if k >= max(gens, 1):
                        shutil.rmtree(os.path.join(p, sub))
                        removed.append(os.path.join(p, sub))
    return removed


def emit_metric_event(index_dir: str, event: str, **tags: Any) -> None:
    """Append ONE tagged metric event to {index_dir}/metrics.jsonl — the
    per-batch DogStatsd-tagged counter stream analog (the reference tags
    every add/delete batch, IndexQueueProcessor.cs:52,57). A metrics sink
    tails this file (or ships it); the manifest keeps only running totals.
    Appends are O(event), never O(history); single-line writes keep the
    stream tail-safe."""
    line = json.dumps(
        {"ts_utc": time.time(), "event": event, **tags}, sort_keys=True
    )
    with open(os.path.join(index_dir, "metrics.jsonl"), "a") as f:
        f.write(line + "\n")


def read_metric_events(index_dir: str, last: int | None = None) -> list[dict]:
    """Read the metric event stream (optionally only the last N events).
    Tailing seeks from the END — O(tail bytes), never O(history): the
    stream grows one line per batch forever on a long-lived index."""
    if last is not None and last <= 0:
        # a 0/negative tail is an empty tail, NEVER the whole history
        # (out[-0:] would slice from index 0)
        return []
    p = os.path.join(index_dir, "metrics.jsonl")
    if not os.path.exists(p):
        return []
    if last is None:
        with open(p) as f:
            lines = f.readlines()
    else:
        # widen the window until it holds `last` full lines (or whole file)
        size = os.path.getsize(p)
        window = 4096
        with open(p, "rb") as f:
            while True:
                take = min(size, window)
                f.seek(size - take)
                chunk = f.read(take)
                found = chunk.split(b"\n")
                # first element may be a partial line unless we read it all
                complete = found if take == size else found[1:]
                complete = [ln for ln in complete if ln.strip()]
                # one line of slack: a torn tail line (crashed writer)
                # parses to nothing but still occupies a slot
                if len(complete) >= last + 1 or take == size:
                    lines = [ln.decode() for ln in complete]
                    break
                window *= 4
    out = []
    for ln in lines:
        ln = ln.strip()
        if ln:
            try:
                out.append(json.loads(ln))
            except json.JSONDecodeError:
                continue  # torn tail line from a crashed writer
    return out[-last:] if last is not None else out


def _atomic_write_json(path: str, obj: Any) -> None:
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)  # atomic swap — the alias-repoint analog


def _read_json(path: str, default: Any) -> Any:
    if not os.path.exists(path):
        return default
    with open(path) as f:
        return json.load(f)


@dataclass
class Catalog:
    root: str
    prefix: str = ""
    alias: str = "documents"

    def __post_init__(self) -> None:
        os.makedirs(self.root, exist_ok=True)

    # -- naming (OsuElasticClient.cs:91) -----------------------------------
    def index_name(self, schema: str) -> str:
        return f"{self.prefix}{self.alias}_{schema}"

    def index_dir(self, schema: str) -> str:
        return os.path.join(self.root, self.index_name(schema))

    def table_path(self, schema: str, table: str) -> str:
        """CURRENT physical dir of a logical table (follows the manifest's
        version pointers — see resolve_table_dir)."""
        assert table in TABLES, table
        return resolve_table_dir(self.index_dir(schema), table)

    # -- catalog document ---------------------------------------------------
    @property
    def _catalog_path(self) -> str:
        return os.path.join(self.root, "catalog.json")

    def _catalog(self) -> dict:
        return _read_json(
            self._catalog_path, {"current_schema": None, "active_schemas": []}
        )

    # -- current schema (Redis current-schema analog) -----------------------
    def get_current_schema(self) -> str | None:
        return self._catalog()["current_schema"]

    def set_current_schema(self, schema: str | None) -> None:
        c = self._catalog()
        c["current_schema"] = schema
        _atomic_write_json(self._catalog_path, c)

    # -- active schemas (Redis set analog, ScoreIndexer.cs:34-37) ----------
    def add_active_schema(self, schema: str) -> None:
        c = self._catalog()
        if schema not in c["active_schemas"]:
            c["active_schemas"].append(schema)
            _atomic_write_json(self._catalog_path, c)

    def remove_active_schema(self, schema: str) -> None:
        c = self._catalog()
        if schema in c["active_schemas"]:
            c["active_schemas"].remove(schema)
            _atomic_write_json(self._catalog_path, c)

    def get_active_schemas(self) -> list[str]:
        return list(self._catalog()["active_schemas"])

    # -- manifest per index --------------------------------------------------
    def _manifest_path(self, schema: str) -> str:
        return os.path.join(self.index_dir(schema), "manifest.json")

    def read_manifest(self, schema: str) -> dict | None:
        return _read_json(self._manifest_path(schema), None)

    def write_manifest(self, schema: str, manifest: dict) -> None:
        os.makedirs(self.index_dir(schema), exist_ok=True)
        # monotonic commit counter: query-side caches key on this (NOT on
        # file mtime — coarse-granularity filesystems would serve stale
        # state for two commits landing in the same second)
        manifest["commit_seq"] = int(manifest.get("commit_seq", 0)) + 1
        _atomic_write_json(self._manifest_path(schema), manifest)

    def find_or_create_index(self, schema: str) -> dict:
        """FindOrCreateIndex (OsuElasticClient.cs:28-42): open manifest or
        create an empty one with status 'building'."""
        m = self.read_manifest(schema)
        if m is None:
            m = {
                "index_name": self.index_name(schema),
                "schema": schema,
                "format": FORMAT_VERSION,
                "status": "building",  # building | open | closed
                "created_utc": time.time(),
                "phases": {},  # phase -> {status, counters...}
                "counters": {},  # docs, postings, bytes
                "cursor": None,  # max warc_ts indexed (T8 resume)
                "generations": 0,  # incremental append generations
            }
            self.write_manifest(schema, m)
            self.add_active_schema(schema)
        return m

    def reset_tables(self, schema: str) -> None:
        """Start a FRESH index life for a full rebuild: remove every table
        dir (plain names AND the versioned dirs the manifest's table
        pointers reference) and clear the lifecycle state (pointers,
        generations, cursor, counters, phases).

        Without this, a full rebuild over an index that lived through
        incremental generations silently reads the OLD life's state: bare
        parquet reads of fwd/docmap partition-discover stale gen=1+ dirs
        into the new stats, the previous life's tombstones/gen=0 kills the
        new docIDs, and the manifest's dictionary_vN pointer shadows the
        freshly written dictionary. Rebuild must mean rebuild."""
        import shutil

        idx = self.index_dir(schema)
        m = self.read_manifest(schema)
        if m is None:
            return
        names = set(TABLES) | set((m.get("tables") or {}).values())
        for name in names:
            shutil.rmtree(os.path.join(idx, name), ignore_errors=True)
        for d in m.get("gc_pending") or []:
            shutil.rmtree(d, ignore_errors=True)
        m["gc_pending"] = []
        m["tables"] = {}
        m["generations"] = 0
        m["cursor"] = None
        m["counters"] = {}
        m["phases"] = {}
        self.write_manifest(schema, m)

    # -- phase checkpoints (T8 per-partition lineage + metrics) -------------
    def phase_done(self, schema: str, phase: str) -> bool:
        m = self.read_manifest(schema) or {}
        return (m.get("phases", {}).get(phase) or {}).get("status") == "done"

    def mark_phase(
        self, schema: str, phase: str, status: str, **info: Any
    ) -> None:
        m = self.read_manifest(schema)
        assert m is not None, f"no manifest for schema {schema}"
        entry = m["phases"].setdefault(phase, {})
        entry["status"] = status
        entry["ts_utc"] = time.time()
        if status == "running":
            entry["ts_start"] = entry["ts_utc"]
        elif status == "done" and "ts_start" in entry:
            # per-phase wall time — the scaling harness reads this to show
            # WHERE a parallelism level loses efficiency
            entry["wall_sec"] = round(entry["ts_utc"] - entry["ts_start"], 2)
        entry.update(info)
        self.write_manifest(schema, m)

    # -- cutover (UpdateAliasCommand.cs + OsuElasticClient.cs:65-87) --------
    def update_alias(self, schema: str, close_others: bool = False) -> None:
        """Atomically repoint the alias at `schema`; optionally close the
        previously-open indices (the --close flag of `index alias`)."""
        m = self.read_manifest(schema)
        assert m is not None, f"index {self.index_name(schema)} does not exist"
        prev = self.get_current_schema()
        if close_others and prev and prev != schema:
            pm = self.read_manifest(prev)
            if pm:
                pm["status"] = "closed"
                self.write_manifest(prev, pm)
        m["status"] = "open"
        self.write_manifest(schema, m)
        self.set_current_schema(schema)

    def current_index_dir(self) -> str:
        cur = self.get_current_schema()
        assert cur is not None, "no current schema set (alias not pointed)"
        return self.index_dir(cur)

    # -- admin (ListIndicesCommand / Close / Open / Delete / Nuke) ----------
    def list_indices(self) -> list[dict]:
        """index list + the consistency audit (ListIndicesCommand.cs:53-77):
        flags indices whose schema is current but not active, etc."""
        out = []
        current = self.get_current_schema()
        active = set(self.get_active_schemas())
        for name in sorted(os.listdir(self.root)):
            mpath = os.path.join(self.root, name, "manifest.json")
            m = _read_json(mpath, None)
            if m is None:
                continue
            m2 = dict(m)
            m2["is_current"] = m["schema"] == current
            m2["is_active"] = m["schema"] in active
            m2["consistent"] = not (m2["is_current"] and not m2["is_active"])
            out.append(m2)
        return out

    def close_index(self, schema: str) -> None:
        m = self.read_manifest(schema)
        if m:
            m["status"] = "closed"
            self.write_manifest(schema, m)
        self.remove_active_schema(schema)

    def open_index(self, schema: str) -> None:
        m = self.read_manifest(schema)
        assert m is not None
        m["status"] = "open"
        self.write_manifest(schema, m)
        self.add_active_schema(schema)

    def delete_index(self, schema: str) -> None:
        if os.path.isdir(self.index_dir(schema)):
            shutil.rmtree(self.index_dir(schema))
        self.remove_active_schema(schema)
        if self.get_current_schema() == schema:
            self.set_current_schema(None)

    def nuke_all(self) -> None:
        """NukeAllIndicesCommand.cs — delete everything, clear control state."""
        for name in list(os.listdir(self.root)):
            p = os.path.join(self.root, name)
            if os.path.isdir(p):
                shutil.rmtree(p)
        _atomic_write_json(
            self._catalog_path, {"current_schema": None, "active_schemas": []}
        )

    # -- stale-builder guard (T6: index_closed_exception -> stop) -----------
    def assert_writable(self, schema: str) -> None:
        m = self.read_manifest(schema)
        if m is None:
            raise IndexClosedError(f"index {self.index_name(schema)} missing")
        if m["status"] == "closed":
            raise IndexClosedError(
                f"index {self.index_name(schema)} is closed — builder must stop"
            )


class IndexClosedError(RuntimeError):
    """Analog of ES index_closed_exception handling
    (IndexQueueProcessor.cs:93-99): a builder targeting a closed/retired
    version must abort, not write."""

"""Versioned-directory tables behind one JSON manifest — the durable
commit protocol that MaterializedTable (cdc/materialize.py) and
ContinuousAggregate (cdc/caggs.py) share.

Layout (``key`` names the part map, ``prefix`` the part directories):

    path/_MANIFEST.json     {"version": 7, <key>: {"3": "v_000007", ...},
                             "history": [{"version": 6, <key>: {...}}],
                             ...table-specific fields}
    path/<prefix>3/v_000007/*.parquet

A commit at generation G:

1. ``publish`` writes the new rows of every replaced part with one
   ``repartition(col)`` + ``partitionBy(col)`` job to
   ``_staging_v_<G>`` (one file per part), renames each staged part to
   ``<prefix><part>/v_<G>`` — invisible to readers, which resolve
   directories from the manifest only — and drops the replaced parts
   that staged no rows.
2. ``commit`` replaces the manifest through ``write_json_atomic``. That
   single ``os.replace`` is the commit point: a crash at any earlier
   point leaves the previous manifest pointing at intact directories.
   A directory a crashed commit left under the never-committed name
   ``v_<G>`` is replaced by the retry's rename.
3. ``gc`` deletes staging trees and every version directory no
   retained manifest references. The manifest embeds the part maps of
   its ``retain_generations - 1`` predecessors (``history``), so a
   directory expires when it has been SUPERSEDED for that many commits
   — however long it was current before — and a reader that resolved
   paths from any retained manifest keeps a consistent snapshot across
   a concurrent writer's commit. Staler readers fail loudly: ``paths``
   raises on a missing referenced directory rather than returning a
   smaller table.

Writers are single-threaded per table (the reference's connector runs
one task per relation, cdc-timescale-connector.json:8).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MANIFEST = "_MANIFEST.json"


def write_json_atomic(path: str, obj) -> None:
    """Replace ``path`` with ``obj`` as JSON so that a reader sees the
    previous content or the new one, never a partial file, across a
    crash at any point: write a temp file, flush and fsync it,
    ``os.replace`` it over ``path``, then fsync the directory so the
    rename itself is durable."""
    tmp = path + ".tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise
    fd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _part_order(part: str) -> tuple[int, str]:
    # numeric order for bucket numbers, date order for ISO days
    return len(part), part


class VersionedStore:
    """Parts of one table, each a versioned directory, committed
    together by one manifest replace."""

    def __init__(self, path: str, key: str, prefix: str,
                 retain_generations: int):
        if retain_generations < 1:
            raise ValueError("retain_generations must be >= 1")
        self.path = path
        self.key = key
        self.prefix = prefix
        self.retain_generations = retain_generations
        os.makedirs(path, exist_ok=True)

    def load(self) -> dict:
        """The committed manifest; version 0 with no parts before the
        first commit. ``history`` is always a list of predecessor
        part maps."""
        try:
            with open(os.path.join(self.path, MANIFEST)) as f:
                m = json.load(f)
        except FileNotFoundError:
            return {"version": 0, self.key: {}, "history": []}
        h = m.get("history", [])
        if isinstance(h, dict):
            # the earlier cagg form: one previous generation's map
            h = [{"version": m["version"] - 1, self.key: h}]
        m["history"] = h
        return m

    def part_dir(self, part: str, version: str) -> str:
        return os.path.join(self.path, f"{self.prefix}{part}", version)

    def paths(self, manifest: dict, parts=None) -> list[str]:
        """Committed directories of ``parts`` (every part by default;
        parts absent from the manifest are skipped). Raises
        FileNotFoundError on a referenced directory that is gone."""
        committed = manifest[self.key]
        names = committed if parts is None else [p for p in parts if p in committed]
        out = []
        for p in sorted(names, key=_part_order):
            d = self.part_dir(p, committed[p])
            if not os.path.isdir(d):
                raise FileNotFoundError(
                    f"manifest v{manifest['version']} references missing "
                    f"directory {d}; table is corrupt or being mutated by a "
                    "concurrent writer"
                )
            out.append(d)
        return out

    def read(self, spark: SparkSession, manifest: dict, parts=None,
             schema: T.StructType | None = None) -> DataFrame:
        """Scan the committed directories of ``parts`` (every part by
        default) with ``schema``, else the schema the manifest
        recorded, else one inferred from the files. An empty selection
        reads as an empty frame of the given or recorded schema."""
        if schema is None and "schema" in manifest:
            schema = T.StructType.fromJson(manifest["schema"])
        paths = self.paths(manifest, parts)
        if not paths:
            return spark.createDataFrame([], schema=schema)
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(*paths)

    def publish(self, frame: DataFrame, col: str, manifest: dict,
                replaced) -> dict:
        """Write ``frame`` partitioned by ``col`` as generation
        ``manifest["version"] + 1`` and return the new part map: the
        committed parts minus ``replaced``, plus every part staged."""
        vname = f"v_{manifest['version'] + 1:06d}"
        staging = os.path.join(self.path, f"_staging_{vname}")
        frame.repartition(col).write.mode("overwrite").partitionBy(col).parquet(staging)
        replaced = set(replaced)
        parts = {p: v for p, v in manifest[self.key].items() if p not in replaced}
        marker = f"{col}="
        staged = sorted(os.listdir(staging)) if os.path.isdir(staging) else []
        for name in staged:
            if not name.startswith(marker):
                continue
            part = name[len(marker):]
            dest = self.part_dir(part, vname)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            if os.path.exists(dest):
                shutil.rmtree(dest)  # left by a crashed commit of this generation
            os.rename(os.path.join(staging, name), dest)
            parts[part] = vname
        shutil.rmtree(staging, ignore_errors=True)
        return parts

    def commit(self, manifest: dict, parts: dict,
               schema: T.StructType | None = None, **fields) -> None:
        """Make ``parts`` generation ``manifest["version"] + 1`` in one
        atomic manifest replace, then ``gc``. ``schema`` (the stored
        files' schema, read back by ``read``) and ``fields`` (the
        table's own keys) are recorded with it."""
        history = [{"version": manifest["version"], self.key: manifest[self.key]}]
        if schema is not None:
            fields["schema"] = schema.jsonValue()
        write_json_atomic(
            os.path.join(self.path, MANIFEST),
            {
                "version": manifest["version"] + 1,
                self.key: parts,
                "history": (history + manifest["history"])[: self.retain_generations - 1],
                **fields,
            },
        )
        self.gc()

    def gc(self) -> None:
        """Remove staging trees and every version directory no retained
        manifest references. Safe at any time: reachable data is never
        touched."""
        m = self.load()
        keep = {(p, v) for g in [m, *m["history"]] for p, v in g[self.key].items()}
        for name in os.listdir(self.path):
            full = os.path.join(self.path, name)
            if name.startswith("_staging_"):
                shutil.rmtree(full, ignore_errors=True)
            elif name.startswith(self.prefix) and os.path.isdir(full):
                part = name[len(self.prefix):]
                for ver in os.listdir(full):
                    if ver.startswith("v_") and (part, ver) not in keep:
                        shutil.rmtree(os.path.join(full, ver), ignore_errors=True)
                if not os.listdir(full):
                    os.rmdir(full)

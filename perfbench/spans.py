"""In-memory span tracer that wraps the engine's public calls from outside.

A span is ``(name, start, end, parent)``; spans live in a list until the
run ends and are then written out as JSON.  Wrapping is reversible, so a
run can alternate traced and untraced rounds and report the difference as
the tracing overhead.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from contextlib import contextmanager

_PKG = "image_deid_etl_spark"

#: (span name, module, attribute) of every engine call the traced run
#: wraps. ``cdc.engine`` imports ``merge_into`` and ``read_feed_files`` by
#: name, so those are patched on ``cdc.engine`` (where the ingest loop
#: looks them up), but their spans carry the name of the layer that owns
#: them.
ENGINE_TARGETS = [
    ("cdc.engine.run_ingest", "cdc.engine", "run_ingest"),
    ("cdc.feed.read_feed_files", "cdc.engine", "read_feed_files"),
    ("cdc.engine.compute_batch_stats", "cdc.engine", "compute_batch_stats"),
    ("cdc.merge.merge_into", "cdc.engine", "merge_into"),
    ("cdc.engine.run_maintenance", "cdc.engine", "run_maintenance"),
    ("cdc.engine.materialize_new_changelogs", "cdc.engine", "materialize_new_changelogs"),
]
TABLE_METHODS = [
    "write_snapshot_files",
    "build_blooms",
    "write_changelog_rows",
    "materialize_changelog",
    "commit_snapshot",
    "compact",
    "lookup_keys",
    "read_changes",
    "read",
    "scan_files",
]
#: operator modules the catalog queries call into (plan building, plus
#: the eager materialisations of ``operators.scale``)
OPERATOR_MODULES = ["dedup", "similarity", "text", "multimodal", "relational", "scale"]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int | None]] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append((name, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, start, _, par = self.spans[idx]
            self.spans[idx] = (n, start, time.perf_counter(), par)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        orig = owner.__dict__[attr]
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self._wrap(orig, name))

    def install(self, catalog: bool) -> None:
        """Wrap the engine layers, or the query plans and operators."""
        if catalog:
            queries = importlib.import_module(f"{_PKG}.plans.queries")
            for qname, fn in list(queries.QUERIES.items()):
                self._patched.append((queries.QUERIES, qname, fn))
                queries.QUERIES[qname] = self._wrap(fn, f"plans.queries.{qname}")
            mods = {m: importlib.import_module(f"{_PKG}.operators.{m}") for m in OPERATOR_MODULES}
            # operators are imported by name into the query module and
            # into each other, so every namespace holding one is patched
            namespaces = [queries, *mods.values()]
            for mod_name, mod in mods.items():
                for attr, fn in list(vars(mod).items()):
                    if attr.startswith("_") or getattr(fn, "__module__", None) != mod.__name__:
                        continue
                    if not callable(fn) or isinstance(fn, type):
                        continue
                    for ns in namespaces:
                        if ns.__dict__.get(attr) is fn:
                            self.patch(ns, attr, f"operators.{mod_name}")
            return
        for name, mod_name, attr in ENGINE_TARGETS:
            self.patch(importlib.import_module(f"{_PKG}.{mod_name}"), attr, name)
        table_cls = importlib.import_module(f"{_PKG}.lake.table").SnapshotTable
        for attr in TABLE_METHODS:
            self.patch(table_cls, attr, f"lake.table.{attr}")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._patched.clear()

    @contextmanager
    def installed(self, catalog: bool):
        self.install(catalog)
        try:
            yield
        finally:
            self.uninstall()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans."""
        children: dict[int, list[tuple[float, float]]] = {}
        for _name, start, end, parent in self.spans:
            if parent is not None:
                children.setdefault(parent, []).append((start, end))
        out: dict[str, float] = {}
        for idx, (name, start, end, _parent) in enumerate(self.spans):
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in sorted(children.get(idx, [])):
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[name] = out.get(name, 0.0) + (end - start) - covered
        return out

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s[0] == name)

    def dump(self, path: str) -> None:
        t0 = self.spans[0][1] if self.spans else 0.0
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                [
                    {"name": n, "start": round(s - t0, 6), "end": round(e - t0, 6), "parent": p}
                    for n, s, e, p in self.spans
                ],
                fh,
            )

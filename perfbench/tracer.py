"""In-memory span tracer for the traced benchmark run.

``Tracer.install`` wraps public functions of the engine's modules at every
binding a caller can reach them by: a module that did ``from .x import f``
holds its own reference, so each module attribute that *is* the original
function is replaced, not only the defining one. Spans are kept in memory
as ``{name, start, end, parent, op_id}``; ``self_times`` subtracts the part
of each span covered by its children.
"""
from __future__ import annotations

import functools
import json
import sys
import threading
import time

PACKAGE = "dbfs_spark_cache_spark"

# (module, function) pairs timed as layers. The layer name drops the package
# prefix and the "plans." of the fingerprint module.
TARGETS = [
    ("session", "get_spark"),
    ("plans.fingerprint", "canonical_plan"),
    ("plans.fingerprint", "input_dir_mod_datetime"),
    ("plans.fingerprint", "find_plain_udfs"),
    ("core", "cache_dataframe"),
    ("core", "read_cache_if_exist"),
    ("core", "write_cache"),
    ("core", "create_cached_dataframe"),
    ("complexity", "estimate_compute_complexity"),
    ("hashing", "hash_input_data"),
    ("management", "get_cached_tables"),
    ("management", "cache_stats"),
    ("management", "find_corrupt_entries"),
    ("management", "evict_to_size_budget"),
] + [
    ("fs", fn)
    for fn in (
        "exists", "list_dir", "read_text", "write_text", "max_mtime",
        "data_file_inventory", "remove", "rename",
    )
]


def layer_name(module: str, fn: str) -> str:
    return f"{module.rsplit('.', 1)[-1]}.{fn}"


def _frame_bytes(args) -> int:
    data = args[0] if args else None
    usage = getattr(data, "memory_usage", None)
    return int(usage(index=True).sum()) if usage else 0


class Tracer:
    def __init__(self):
        self.spans: list = []
        self.op_id = None
        self.active = False
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list = []
        self._wrapped: dict = {}

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def begin(self, name: str, **attrs) -> dict:
        stack = self._stack()
        span = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1]["id"] if stack else None,
            "op_id": self.op_id,
            **attrs,
        }
        with self._lock:
            span["id"] = len(self.spans)
            self.spans.append(span)
        stack.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    # -- patching ------------------------------------------------------------
    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            attrs = {"bytes": _frame_bytes(args)} if name == "hashing.hash_input_data" else {}
            span = tracer.begin(name, **attrs)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(span)

        return traced

    def install(self) -> None:
        """Replace every package-module binding of each target function."""
        import importlib

        for module, fn_name in TARGETS:
            original = getattr(importlib.import_module(f"{PACKAGE}.{module}"), fn_name)
            wrapped = self._wrapped.setdefault(
                id(original), self._wrap(layer_name(module, fn_name), original)
            )
            for mod_name, mod in list(sys.modules.items()):
                if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                    continue
                for attr, value in list(vars(mod).items()):
                    if value is original:
                        setattr(mod, attr, wrapped)
                        self._patched.append((mod, attr, original))

    def uninstall(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()

    def start(self) -> None:
        self.install()
        self.active = True

    def stop(self) -> None:
        self.uninstall()
        self.active = False

    # -- summaries -----------------------------------------------------------
    def closed_spans(self, op_ids=None) -> list:
        return [
            s for s in self.spans
            if s["end"] is not None and (op_ids is None or s["op_id"] in op_ids)
        ]

    @staticmethod
    def self_times(spans: list) -> dict:
        """``{span id: self seconds}``: duration minus the union of its
        children's intervals (children on pool threads have no parent link
        and so stay in their caller's self time)."""
        children: dict = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in spans:
            covered, cursor = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, cursor), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cursor = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")

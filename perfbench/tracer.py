"""In-memory span tracing around the engine's layer calls.

Nothing here edits the engine. ``Tracer.install`` wraps every public
function of the ``operators``, ``functions``, ``streaming`` and
``sources`` subpackages, plus ``plans.result_cache.cached_result``, at
every module attribute bound to it (the defining module and every module
that imported the name). It also counts the commands the py4j client
sends to the JVM. ``Tracer.uninstall`` puts the originals back, so
untraced passes run the unmodified engine.

A span is ``[name, start, end, parent, query, py4j]``: wall seconds from
``time.time()`` (so spans line up with the Spark status store's job
times), the index of the enclosing span on the same thread (or -1), the
query id, and the py4j commands sent while it was open. ``layers.py``
turns spans into per-layer totals and self times.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import os
import pkgutil
import sys
import threading
import time
import urllib.request

ENGINE = "rearc_data_engineer_takehome_spark"
WRAPPED_PACKAGES = ("operators", "functions", "streaming", "sources")


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[list] = []
        self.query: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._py4j = itertools.count()
        self._py4j_seen = 0
        self._patches: list[tuple[object, str, object]] = []
        self._client = spark.sparkContext._gateway._gateway_client
        # (kind, query id): result-cache lookups and hits, two-pass quantiles
        self.events: list[tuple[str, str | None]] = []

    # -- py4j -------------------------------------------------------------

    def _count_send(self, send):
        @functools.wraps(send)
        def counted(*args, **kwargs):
            self._py4j_seen = next(self._py4j) + 1
            return send(*args, **kwargs)

        return counted

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str) -> list:
        stack = self._stack()
        parent = stack[-1][0] if stack else -1
        span = [name, time.time(), None, parent, self.query, self._py4j_seen]
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        frame = [idx, span]
        stack.append(frame)
        return frame

    def close(self, frame: list) -> None:
        self._stack().pop()
        span = frame[1]
        span[2] = time.time()
        span[5] = self._py4j_seen - span[5]

    def _wrap(self, label: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            frame = tracer.open(label)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close(frame)
            tracer._observe(label, out)
            return out

        return traced

    def _observe(self, label: str, out) -> None:
        """Count exact-quantile calls that took the two-pass plan."""
        if label.endswith("quantiles_scalable") and out is not None:
            # the one-pass endgame returns a percentile() aggregate; the
            # two-pass plan reads the bracketed counts instead
            plan = out._jdf.queryExecution().logical().toString()
            if "percentile(" not in plan:
                self.events.append(("two_pass_quantiles", self.query))

    # -- install / uninstall ---------------------------------------------

    def install(self) -> None:
        for sub in WRAPPED_PACKAGES:
            pkg = importlib.import_module(f"{ENGINE}.{sub}")
            for info in pkgutil.walk_packages(pkg.__path__, f"{ENGINE}.{sub}."):
                importlib.import_module(info.name)
        importlib.import_module(f"{ENGINE}.plans.result_cache")
        wrappers: dict[int, object] = {}
        for mod in _engine_modules():
            rel = mod.__name__[len(ENGINE) + 1 :]
            top = rel.split(".", 1)[0]
            if top not in WRAPPED_PACKAGES and rel != "plans.result_cache":
                continue
            for name, fn in vars(mod).items():
                if name.startswith("_") or not inspect.isfunction(fn):
                    continue
                if fn.__module__ != mod.__name__:
                    continue
                if rel == "plans.result_cache" and name != "cached_result":
                    continue
                wrapped = self._wrap(f"{rel}.{name}", fn)
                if rel == "plans.result_cache":
                    wrapped = self._cache_probe(wrapped)
                wrappers[id(fn)] = wrapped
        for mod in _engine_modules():
            for name, value in list(vars(mod).items()):
                wrapped = wrappers.get(id(value))
                if wrapped is not None:
                    self._patches.append((mod, name, value))
                    setattr(mod, name, wrapped)
        send = self._client.send_command
        self._patches.append((self._client, "send_command", None))
        self._client.send_command = self._count_send(send)

    def _cache_probe(self, wrapped):
        """Count a lookup as a hit when it adds no entry to the cache dir."""
        tracer = self

        def entries(cache_dir: str) -> set:
            return set(os.listdir(cache_dir)) if os.path.isdir(cache_dir) else set()

        @functools.wraps(wrapped)
        def probe(spark, df, cache_dir, *args, **kwargs):
            before = entries(cache_dir)
            out = wrapped(spark, df, cache_dir, *args, **kwargs)
            tracer.events.append(("cache_lookups", tracer.query))
            if not entries(cache_dir) - before:
                tracer.events.append(("cache_hits", tracer.query))
            return out

        return probe

    def uninstall(self) -> None:
        for target, name, original in reversed(self._patches):
            if original is None:
                delattr(target, name)  # the instance attribute shadowed the method
            else:
                setattr(target, name, original)
        self._patches.clear()

    # -- Spark status store ----------------------------------------------

    def spark_jobs(self) -> tuple[list[dict], dict[tuple, dict]]:
        """Jobs and stages the status store holds, via the UI REST API."""
        sc = self.spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
        jobs = _get_json(f"{base}/jobs")
        stages = _get_json(f"{base}/stages")
        return jobs, {(s["stageId"], s["attemptId"]): s for s in stages}

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        body = {
            **extra,
            "span_fields": ["name", "start", "end", "parent", "query", "py4j"],
            "spans": self.spans,
            "events": self.events,
        }
        with open(path, "w") as f:
            json.dump(body, f, separators=(",", ":"))


def _engine_modules():
    return [
        m
        for n, m in list(sys.modules.items())
        if m is not None and (n == ENGINE or n.startswith(ENGINE + "."))
    ]


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=60) as resp:
        return json.loads(resp.read())

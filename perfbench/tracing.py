"""Call tracing from outside the package, for the traced run only.

``install`` wraps the eager public functions of the engine's modules
and rebinds every module attribute that refers to them, because the
plan modules import them with top-level ``from ... import`` and keep
their own bindings.  Each outermost call appends one record to
``Tracer.calls``: ``{"kind", "t0", "t1"}`` plus, for writes, the
megabytes and files under the written path.  Records stay in memory
and are written out with the run's result.
"""

from __future__ import annotations

import functools
import os
import sys
import time


def dir_size(path: str) -> tuple[float, int]:
    """(megabytes, data files) under ``path``, ignoring hidden and
    ``_``-prefixed metadata files."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, name))
            files += 1
    return size / 1e6, files


class Tracer:
    def __init__(self, warehouse_dir: str) -> None:
        self.calls: list[dict] = []
        self.streaming: list[dict] = []
        self._depth: dict[str, int] = {}
        self._warehouse_dir = warehouse_dir

    def _wrap(self, kind: str, fn, written_path=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            depth = self._depth.get(kind, 0)
            self._depth[kind] = depth + 1
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.time()
                self._depth[kind] = depth
                if depth == 0:
                    rec = {"kind": kind, "t0": t0, "t1": t1}
                    if written_path is not None:
                        rec["mb"], rec["files"] = dir_size(written_path(*args, **kwargs))
                    self.calls.append(rec)

        return wrapper

    def install(self, dataframe_cls) -> None:
        """Wrap and rebind.  ``dataframe_cls`` is the concrete class of
        the session's DataFrames (``pyspark.sql.classic`` in Spark 4)."""
        from myfitnesspaw_spark import checkpoints, sources
        from myfitnesspaw_spark.report import chart, progress
        from myfitnesspaw_spark.sinks import warehouse

        def silver_path(df, table, *a, **k):
            return os.path.join(self._warehouse_dir, table.lower())

        def store_path(df, path, *a, **k):
            return path

        targets = [
            ("checkpoints", checkpoints.materialize_instance_sized, None),
            ("sources", sources.tables.load_table, None),
            ("stores", warehouse.write_index_store, store_path),
            ("stores", warehouse.write_bucketed_index_store, store_path),
            ("silver", warehouse.write_silver, silver_path),
            ("report", progress.render_html, None),
            ("report", progress.render_html_jinja, None),
            ("report", chart.render_progress_bar_png, None),
        ]
        for kind, fn, written in targets:
            wrapped = self._wrap(kind, fn, written)
            for mod in list(sys.modules.values()):
                name = getattr(mod, "__name__", "") or ""
                if not name.startswith("myfitnesspaw_spark"):
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        setattr(mod, attr, wrapped)
        for meth in ("localCheckpoint", "checkpoint"):
            setattr(dataframe_cls, meth, self._wrap("checkpoints", getattr(dataframe_cls, meth)))

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener
        from datetime import datetime

        batches = self.streaming

        class BatchListener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802 (Spark API)
                pass

            def onQueryProgress(self, event):  # noqa: N802
                p = event.progress
                ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
                batches.append({
                    "t": ts,
                    "rows": p.numInputRows,
                    "trigger_ms": (p.durationMs or {}).get("triggerExecution", 0),
                })

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        return BatchListener()

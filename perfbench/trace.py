"""Span and call-count tracing from outside the program.

The tracer wraps public functions of the package by attribute patching
(module functions and class methods), so every call that resolves the
attribute at call time, including the package's own internal calls,
records a span. It also counts py4j round trips by wrapping the
gateway client's ``send_command``. Tracing is switched per op, so one
run can interleave traced and untraced ops.
"""

from __future__ import annotations

import functools
import time
from collections.abc import Callable
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []

    def reset(self) -> None:
        self.spans = []
        self.py4j_calls = 0
        self._stack = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def patch(self, owner: object, attr: str, name: str | Callable[..., str]) -> None:
        """Wrap ``owner.attr`` in a span; ``name`` may be a function of
        the call's arguments."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name(*args, **kwargs) if callable(name) else name):
                return orig(*args, **kwargs)

        self._restore.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def count_py4j(self, spark) -> None:
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command
        tracer = self

        def send_command(*args, **kwargs):
            if tracer.enabled:
                tracer.py4j_calls += 1
            return orig(*args, **kwargs)

        self._restore.append((client, "send_command", None))
        client.send_command = send_command

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._restore = []


def install_package_spans(tracer: Tracer) -> None:
    """The layer boundaries the per-layer metrics are read from."""
    from etl_job_spark import sql, table, txn
    from etl_job_spark.operators import dedup, similarity

    def sql_span(spark, catalog, statement, *a, **k):
        s = statement.lstrip().upper()
        return "sql.select_plan" if s.startswith(("SELECT", "WITH")) else "sql.execute_sql"

    tracer.patch(txn.TransactionalCatalog, "commit", "txn.commit")
    tracer.patch(txn.TransactionalCatalog, "roll_forward", "txn.roll_forward")
    tracer.patch(table.ManifestTable, "merge", "table.merge")
    tracer.patch(table.ManifestTable, "update_where", "table.update_where")
    tracer.patch(table.ManifestTable, "snapshot_where", "table.snapshot_where")
    tracer.patch(sql, "execute_dml_txn", "sql.dml_txn")
    tracer.patch(sql, "execute_dml", "sql.dml_stmt")
    tracer.patch(sql, "execute_sql", sql_span)
    tracer.patch(similarity, "pq_search", "similarity.search_plan")
    tracer.patch(dedup, "verify_pairs", "dedup.verify_pairs")
    tracer.patch(dedup, "connected_components", "dedup.cc")

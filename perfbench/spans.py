"""In-memory spans around the calls into each serving layer.

Installed only by a traced run (``--trace 1``). The wrappers live in the
benchmark, not in the library: each one wraps a public function or
method of ``operators.serving``, ``operators.serving_hash`` or
``operators.serving_http`` and records ``(name, start, end, parent,
request id)``. Spans of one request share the ``rid`` field the load
generator puts in the request body; the router forwards the body
unchanged to every replica, so replica spans carry it too.

Recording is switched on and off with :attr:`Tracer.on`, so one run can
time the same phase with and without tracing (the overhead).
"""

from __future__ import annotations

import statistics
import threading
import time


class Tracer:
    def __init__(self):
        self.on = False
        # [name, start, end, parent span, rid, time covered by children]
        self.spans: list[list] = []
        self._local = threading.local()

    def _stack(self) -> list[list]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, fn, name: str, rid_of=None):
        """``fn`` recorded as span ``name``; ``rid_of(args, kwargs)``
        names the request id when the arguments carry it."""
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.on:
                return fn(*args, **kwargs)
            stack = tracer._stack()
            rid = rid_of(args, kwargs) if rid_of is not None else None
            if rid is not None:
                for outer in stack:  # enclosing spans learn the request id
                    if outer[4] is None:
                        outer[4] = rid
            elif stack:
                rid = stack[-1][4]
            parent = stack[-1] if stack else None
            span = [name, time.perf_counter(), None, parent, rid, 0.0]
            tracer.spans.append(span)
            stack.append(span)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                span[2] = time.perf_counter()
                if parent is not None:  # children run on their parent's thread
                    parent[5] += span[2] - span[1]

        return traced

    def install(self):
        """Wrap the serving layers (call before any server starts: the
        HTTP handler class is created per server)."""
        from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import (
            serving,
            serving_hash,
            serving_http,
        )

        def payload_rid(args, kwargs):
            payload = args[1] if len(args) > 1 else kwargs.get("payload")
            return payload.get("rid") if isinstance(payload, dict) else None

        def post_rid(args, kwargs):
            payload = args[2] if len(args) > 2 else kwargs.get("payload")
            return payload.get("rid") if isinstance(payload, dict) else None

        make_handler = serving_http._make_handler

        def traced_make_handler(routes, health):
            handler = make_handler(routes, health)
            tier = "router" if "/query_batch" in routes else "replica"
            handler.do_POST = self.wrap(handler.do_POST, f"http.{tier}")
            return handler

        serving_http._make_handler = traced_make_handler
        serving_http.QueryService.handle_query = self.wrap(
            serving_http.QueryService.handle_query, "serving_http.handle_query", payload_rid
        )
        serving_http.RouterService.handle_query = self.wrap(
            serving_http.RouterService.handle_query, "router.handle_query", payload_rid
        )
        serving_http.RouterService._post = self.wrap(
            serving_http.RouterService._post, "router.post", post_rid
        )
        serving.ServingIndex.query = self.wrap(serving.ServingIndex.query, "serving.query")
        serving.merge_topk = self.wrap(serving.merge_topk, "serving.merge_topk")
        serving_hash.band_hashes_local = self.wrap(
            serving_hash.band_hashes_local, "serving_hash.band_hashes_local"
        )

    def summary(self) -> dict:
        """Per-layer means from the recorded spans. Self time = duration
        minus the part of it that child spans cover."""
        by = {}
        for name, t0, t1, _parent, rid, covered in self.spans:
            if t1 is not None:
                by.setdefault(name, []).append((t1 - t0, t1 - t0 - covered, rid))

        def mean(name, field):
            vals = [v[field] for v in by.get(name, [])]
            return statistics.fmean(vals) if vals else 0.0

        replica = {}
        for dur, _self, rid in by.get("http.replica", []):
            replica.setdefault(rid, []).append(dur)
        overhead, skew = [], []
        for dur, _self, rid in by.get("http.router", []):
            reps = replica.get(rid)
            if rid is None or not reps:
                continue
            overhead.append(dur - max(reps))
            skew.append(max(reps) - min(reps))
        return {
            "serving.query_self_ms": mean("serving.query", 1) * 1e3,
            "serving_hash.band_hashes_local_us": mean("serving_hash.band_hashes_local", 0) * 1e6,
            "serving_http.replica_ms": mean("http.replica", 0) * 1e3,
            "serving_http.router_overhead_ms": statistics.fmean(overhead) * 1e3 if overhead else 0.0,
            "serving_http.fanout_skew_ms": statistics.fmean(skew) * 1e3 if skew else 0.0,
            "serving.merge_topk_us": mean("serving.merge_topk", 0) * 1e6,
        }

    def dump(self, path: str) -> None:
        import json

        index = {id(s): i for i, s in enumerate(self.spans)}
        with open(path, "w") as f:
            for i, (name, t0, t1, parent, rid, _covered) in enumerate(self.spans):
                rec = {"id": i, "name": name, "start": t0, "end": t1, "rid": rid}
                rec["parent"] = index[id(parent)] if parent is not None else None
                f.write(json.dumps(rec) + "\n")

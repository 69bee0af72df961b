"""Serving benchmark: routed open-loop queries plus ingest while serving.

Usage (from the repository root)::

    python3 perfbench/run.py --workload sparse --seed 1 --seconds 10 --trace 0

This process is the load generator and uses the standard library only.
It starts the system process (``perfbench/system.py``: the Spark driver
that builds the index, binds two shard replicas behind the router and
appends to the index), sends requests on an open-loop schedule with at
most ``nproc`` threads and connections, checks every answer, and prints
one JSON line per run as its last line of output::

    {"correct": true, "attempted": N, "failed": F, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones (see ``BENCHMARK.json``). A failed
correctness check prints ``"correct": false`` and exits with code 1.

Latency is measured from each request's scheduled send time, so a stall
also charges the requests queued behind it. Requests that fail, are
refused, or are not answered within ``REQUEST_TIMEOUT_S`` of their
scheduled time count as failed.
"""

from __future__ import annotations

import argparse
import http.client
import importlib.metadata
import itertools
import json
import os
import platform
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "finding_similar_high_dimensional_items_for_big_data_sets_spark"
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402

#: Hard stop for one run, inside the 180 s a run may take.
DEADLINE_S = 170.0


class RunFailed(RuntimeError):
    """The run cannot produce a valid result."""


class GateFailed(RuntimeError):
    """An answer was wrong."""


# -- host -------------------------------------------------------------------


def host_info() -> dict:
    ram_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                ram_kb = int(line.split()[1])

    def version(dist):
        try:
            return importlib.metadata.version(dist)
        except importlib.metadata.PackageNotFoundError:
            return None

    return {
        "cpus": len(os.sched_getaffinity(0)),
        "ram_gb": round(ram_kb / 2**20, 1),
        "python": platform.python_version(),
        "spark": version("pyspark"),
        "numpy": version("numpy"),
    }


def spark_env(host: dict, work: str) -> dict:
    """Spark settings fitted to the host: one task slot per CPU, a
    driver heap well below RAM, and every scratch directory inside the
    run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # the corpora hold at most ~20k docs: a 1 GB heap, far below host RAM
    # (the library default of 24g is above it on small hosts)
    heap_gb = 1
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(host["cpus"]),
            "SPARK_DRIVER_MEMORY": f"{heap_gb}g",
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
            # glibc adjusts its mmap threshold from the allocation
            # history, so how a run's large numpy temporaries were
            # allocated varied from run to run, and the dense p50 split
            # into two levels ~25% apart. Pinned at its initial default.
            "MALLOC_MMAP_THRESHOLD_": "131072",
            # every JVM, the launcher's too: temp files in the work
            # directory, no hsperfdata files in the system temp directory
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
                    "--conf spark.ui.enabled=false",
                    "pyspark-shell",
                ]
            ),
        }
    )
    env.pop("SPARK_MASTER", None)
    return env


# -- the system process -----------------------------------------------------


class SystemProcess:
    def __init__(self, args, host: dict, work: str):
        self.log_path = os.path.join(work, "system.log")
        self.log = open(self.log_path, "w")
        cmd = [
            sys.executable,
            os.path.join(HERE, "system.py"),
            "--workload", args.workload,
            "--seed", str(args.seed),
            "--work", work,
            "--trace", str(args.trace),
        ]
        if args.tiny:
            cmd.append("--tiny")
        if args.inject_wrong_answer:
            cmd.append("--inject-wrong-answer")
        self.proc = subprocess.Popen(
            cmd,
            cwd=ROOT,
            env=spark_env(host, work),
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self.log,
            text=True,
            start_new_session=True,  # the JVM joins this process group
        )
        self.replies: queue.Queue = queue.Queue()
        threading.Thread(target=self._read, daemon=True).start()

    def _read(self):
        for line in self.proc.stdout:
            self.replies.put(json.loads(line))
        self.replies.put(None)

    def recv(self, deadline: float) -> dict:
        try:
            msg = self.replies.get(timeout=max(0.1, deadline - time.monotonic()))
        except queue.Empty:
            raise RunFailed("system process did not answer in time") from None
        if msg is None:
            raise RunFailed(f"system process exited early:\n{self.tail()}")
        if msg.get("event") == "gate_failed":
            raise GateFailed(msg["error"])
        return msg

    def call(self, deadline: float, **cmd) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self.recv(deadline)

    def tail(self, n: int = 30) -> str:
        self.log.flush()
        with open(self.log_path) as f:
            return "".join(f.readlines()[-n:])

    def close(self):
        """Stop the process group (driver and JVM) and wait until every
        process in it has ended."""
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write(json.dumps({"cmd": "stop"}) + "\n")
                self.proc.stdin.close()
            except OSError:
                pass
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                pass
        # the JVM holds nothing worth a clean shutdown: its files live in
        # the run's work directory, which is removed next
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        end = time.monotonic() + 20
        while time.monotonic() < end:
            try:
                os.killpg(self.proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        else:
            raise RunFailed("system processes did not end")
        self.log.close()


# -- the load generator -----------------------------------------------------


class Rec:
    __slots__ = ("due", "sent", "done", "status", "data", "tag")

    def __init__(self, due, tag):
        self.due, self.tag = due, tag
        self.sent = self.done = None
        self.status = None
        self.data = b""

    @property
    def ok(self) -> bool:
        return self.status == 200 and self.done - self.due <= W.REQUEST_TIMEOUT_S

    @property
    def latency_ms(self) -> float:
        return (self.done - self.due) * 1e3 if self.ok else float("inf")


def post(host: str, port: int, body: bytes) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection(host, port, timeout=W.REQUEST_TIMEOUT_S)
    try:
        conn.request("POST", "/query", body, {"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, resp.read()
    except (OSError, http.client.HTTPException):
        return -1, b""
    finally:
        conn.close()


class OpenLoop:
    """Requests due at ``t0 + i / rate``, sent by ``threads`` workers
    that each hold at most one connection. A request whose worker is
    still busy goes out late; its latency still counts from when it was
    due."""

    def __init__(self, url: str, rate: float, make, threads: int, count: int | None = None, on_reply=None):
        hostport = url.split("//", 1)[1]
        self.host, port = hostport.rsplit(":", 1)
        self.port = int(port)
        self.rate, self.make, self.count = rate, make, count
        self.on_reply = on_reply
        self.records: list[Rec] = []
        self.stop = threading.Event()
        self._next = 0
        self._lock = threading.Lock()
        self.t0 = time.monotonic() + 0.02
        self.workers = [threading.Thread(target=self._work, daemon=True) for _ in range(threads)]
        for w in self.workers:
            w.start()

    def _work(self):
        while not self.stop.is_set():
            with self._lock:
                i = self._next
                if self.count is not None and i >= self.count:
                    return
                self._next += 1
                body, tag = self.make(i)
            due = self.t0 + i / self.rate
            rec = Rec(due, tag)
            delay = due - time.monotonic()
            if delay > 0 and self.stop.wait(delay):
                return
            self.records.append(rec)
            rec.sent = time.monotonic()
            rec.status, rec.data = post(self.host, self.port, body)
            rec.done = time.monotonic()
            if self.on_reply is not None:
                self.on_reply(rec)

    def join(self, timeout: float):
        end = time.monotonic() + timeout
        for w in self.workers:
            w.join(max(0.0, end - time.monotonic()))
        if any(w.is_alive() for w in self.workers):
            raise RunFailed("load generator threads did not finish")
        return self.records

    def finish(self, timeout: float):
        self.stop.set()
        return self.join(timeout)


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 1] of ``values``."""
    s = sorted(values)
    if not s:
        raise RunFailed("no samples")
    x = q * (len(s) - 1)
    lo = int(x)
    hi = min(lo + 1, len(s) - 1)
    if s[hi] == float("inf"):
        return s[hi] if x > lo else s[lo]
    return s[lo] + (s[hi] - s[lo]) * (x - lo)


def candidates(rec: Rec) -> list:
    return [[c["id"], c["score"]] for c in json.loads(rec.data)["candidates"]]


class Bench:
    def __init__(self, args, host: dict, system: SystemProcess, ready: dict, deadline: float):
        self.system, self.deadline = system, deadline
        self.spec = W.spec(args.workload, args.tiny)
        self.url = ready["router"]
        with open(ready["queries"]) as f:
            q = json.load(f)
        self.pool, self.batches = q["pool"], q["batches"]
        self.bodies = [json.dumps({"vector": p["vector"], "k": W.K}).encode()[1:] for p in self.pool]
        self.threads = host["cpus"]
        # the open loop keeps a fifth of one request in flight on average:
        # two senders cover its bursts with fewer threads to schedule
        self.senders = min(W.SENDERS, self.threads)
        self.rids = itertools.count(1)
        self.next_query = 0  # pool position the next open-loop phase starts at
        self.phases: dict[str, dict] = {}
        self.sent: dict[int, int] = {}
        self.t0 = time.monotonic()
        self.timeline: dict[str, float] = {}

    def mark(self, name: str) -> None:
        self.timeline[name] = time.monotonic() - self.t0

    def body(self, qi: int) -> bytes:
        # unique per request; the router forwards it to replicas
        return b'{"rid": %d, ' % next(self.rids) + self.bodies[qi]

    def pool_request(self, i: int):
        qi = i % len(self.pool)
        return self.body(qi), ("pool", qi)

    def check_pool(self, recs: list[Rec]) -> None:
        """Gate: every answered pool query equals the single full-index
        ``ServingIndex.query`` answer."""
        for r in recs:
            if r.ok:
                qi = r.tag[1]
                got = candidates(r)
                if got != self.pool[qi]["expect"]:
                    raise GateFailed(
                        f"routed answer for pool query {qi} differs from the full index: "
                        f"{got} != {self.pool[qi]['expect']}"
                    )

    def account(self, name: str, recs: list[Rec]) -> None:
        ok = sum(r.ok for r in recs)
        self.phases[name] = {"sent": len(recs), "ok": ok, "failed": len(recs) - ok}

    def fixed(self, name: str, seconds: float) -> list[Rec]:
        rate = self.spec["fixed_qps"]
        n = max(1, int(rate * seconds))
        start, self.next_query = self.next_query, self.next_query + n
        recs = OpenLoop(self.url, rate, lambda i: self.pool_request(start + i), self.senders, count=n).join(
            n / rate + 10
        )
        self.check_pool(recs)
        self.account(name, recs)
        for r in recs:
            self.sent[r.tag[1]] = self.sent.get(r.tag[1], 0) + 1
        return recs

    def closed(self, name: str, seconds: float) -> float:
        """``nproc`` clients, each sending its next pool query when the
        last is answered, for ``seconds``. Returns the median over
        ``WINDOW_S`` windows (after the first) of the answers per
        second, so a stall in one window does not move it."""
        recs: list[Rec] = []
        counter = itertools.count()
        t0 = time.monotonic()
        end = t0 + seconds

        def client():
            host, port = self.url.split("//", 1)[1].rsplit(":", 1)
            while time.monotonic() < end:
                body, tag = self.pool_request(next(counter))
                rec = Rec(time.monotonic(), tag)
                rec.sent = rec.due
                rec.status, rec.data = post(host, int(port), body)
                rec.done = time.monotonic()
                recs.append(rec)

        workers = [threading.Thread(target=client, daemon=True) for _ in range(self.threads)]
        for w in workers:
            w.start()
        for w in workers:
            w.join(seconds + W.REQUEST_TIMEOUT_S + 10)
        if any(w.is_alive() for w in workers):
            raise RunFailed("closed-loop clients did not finish")
        self.check_pool(recs)
        self.account(name, recs)
        n_win = int(seconds / W.WINDOW_S)
        if n_win < 3:
            raise RunFailed("closed-loop phase shorter than three windows")
        counts = [0] * n_win
        for r in recs:
            w = int((r.done - t0) / W.WINDOW_S)
            if r.ok and w < n_win:
                counts[w] += 1
        return statistics.median(counts[1:]) / W.WINDOW_S

    def ingest(self) -> dict:
        """Append cycles under a low-rate stream; half the stream asks
        for docs of the batch being appended."""
        cur = [0]
        arrival: dict[int, float] = {}
        seen: dict[int, float] = {}
        seen_ev = {c: threading.Event() for c in range(len(self.batches))}

        def make(i):
            if i % 2 == 0:
                return self.pool_request(i // 2)
            c = cur[0]
            doc = self.batches[c][(i // 2) % len(self.batches[c])]
            body = json.dumps({"rid": next(self.rids), "vector": doc["vector"], "k": W.K}).encode()
            return body, ("fresh", c, doc["id"])

        def on_reply(rec):
            if rec.tag[0] == "fresh" and rec.ok:
                c = rec.tag[1]
                if c not in seen and rec.tag[2] in [d for d, _s in candidates(rec)]:
                    seen[c] = rec.done
                    seen_ev[c].set()

        stream = OpenLoop(self.url, self.spec["stream_qps"], make, self.senders, on_reply=on_reply)
        cycles = []
        try:
            for c in range(len(self.batches)):
                cur[0] = c
                arrival[c] = time.monotonic()
                cycles.append(self.system.call(self.deadline, cmd="cycle", c=c))
                if not seen_ev[c].wait(W.REQUEST_TIMEOUT_S + 3):
                    raise GateFailed(f"no routed answer returned a doc of batch {c} after its reload")
        finally:
            recs = stream.finish(W.REQUEST_TIMEOUT_S + 10)
        self.account("ingest_stream", [r for r in recs if r.tag[0] == "pool"])
        self.account("ingest_fresh", [r for r in recs if r.tag[0] == "fresh"])
        self.phases["ingest_cycles"] = {"sent": len(cycles), "ok": len(cycles), "failed": 0}
        return {
            "cycles": cycles,
            "ingest_docs_per_s": statistics.median(
                t["docs"] / (t["ingest.sign_s"] + t["lsh.lsh_topk_s"] + t["tables.append_to_index_s"]) for t in cycles
            ),
            "freshness_s": statistics.median(seen[c] - arrival[c] for c in range(len(cycles))),
        }

    def recall(self) -> float:
        """Mean recall@k of the index's answers against the exact top-k,
        over the whole pool (queries with a non-empty exact top-k). The
        answers are the full-index ones, which the gate showed equal to
        the routed answer of every query sent."""
        vals = []
        for q in self.pool:
            if q["oracle"]:
                got = {d for d, _s in q["expect"]}
                vals.append(len(got & set(q["oracle"])) / len(q["oracle"]))
        return statistics.fmean(vals)


def run(args, host: dict, work: str) -> dict:
    t_begin = time.monotonic()
    deadline = t_begin + DEADLINE_S
    system = SystemProcess(args, host, work)
    try:
        ready = system.recv(deadline)
        bench = Bench(args, host, system, ready, deadline)
        bench.mark("ready")
        s = args.seconds
        out = {}
        bench.fixed("warmup", W.WARMUP_S)
        cpu0 = system.call(deadline, cmd="cpu")["cpu_s"]
        # consecutive parts, each with new sender threads: one part's
        # latency level can sit apart from the others' (its threads are
        # placed anew), so the p50 pools several
        parts = [bench.fixed(f"fixed{k}", s / W.FIXED_PARTS) for k in range(W.FIXED_PARTS)]
        cpu_s = system.call(deadline, cmd="cpu")["cpu_s"] - cpu0
        fixed = sum(parts, [])
        lat = [r.latency_ms for r in fixed]
        bench.timeline["parts_p50_ms"] = [pct([r.latency_ms for r in p], 0.5) for p in parts]
        bench.timeline["fixed_ms"] = {
            f"p{round(q * 100)}": pct(lat, q) for q in (0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99)
        }
        # the session starts once; the index is built BUILDS times
        out["setup_s"] = ready["session_start_s"] + statistics.median(b["total_s"] for b in ready["builds"])
        out["query_p50_ms"] = pct(lat, 0.5)
        bench.timeline["fixed_late_ms_p90"] = pct([(r.sent - r.due) * 1e3 for r in fixed], 0.9)
        layer = {
            "server.cpu_ms_per_query": cpu_s * 1e3 / len(fixed),
            "loadgen.late_ms_p99": pct([(r.sent - r.due) * 1e3 for r in fixed], 0.99),
        }
        if args.trace:
            system.call(deadline, cmd="trace", on=True)
            traced = bench.fixed("fixed_traced", 0.5 * s)
            system.call(deadline, cmd="trace", on=False)
            layer["trace.overhead_pct"] = 100.0 * (pct([r.latency_ms for r in traced], 0.5) / out["query_p50_ms"] - 1)
            layer["loadgen.saturated_qps"] = bench.closed("closed", 0.5 * s)
        bench.mark("queries")
        ing = {"cycles": []}
        if args.trace:
            # ingest while serving: Spark jobs on tiny batches, timed
            # per layer (the untraced run has no time left for them)
            ing = bench.ingest()
            bench.mark("ingest")
        out["recall_at_5"] = bench.recall()
        report = system.call(deadline, cmd="report", sent={str(k): v for k, v in bench.sent.items()})
        out["peak_rss_mb"] = report.pop("peak_rss_mb")
        bench.timeline["jvm_rss_mb"] = report["spark.jvm_peak_rss_mb"]
        if args.trace:
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                keep = os.path.join(ROOT, ".perfbench", "traces")
                os.makedirs(keep, exist_ok=True)
                shutil.copy(spans, os.path.join(keep, f"{args.workload}-seed{args.seed}.spans.jsonl"))
            layer.update(layer_metrics(ready, ing, report, bench))
        system.call(deadline, cmd="stop")
        return {"e2e": out, "layer": layer, "phases": bench.phases, "ready": ready, "cycles": ing["cycles"], "timeline": bench.timeline}
    finally:
        system.close()


def layer_metrics(ready: dict, ing: dict, report: dict, bench: Bench) -> dict:
    med = statistics.median
    setup = {key: med(b[key] for b in ready["builds"]) for key in ready["builds"][0]}
    cyc = ing["cycles"]
    out = {
        "session.start_s": ready["session_start_s"],
        "minhash.signatures_s": setup["minhash.signatures_s"],
        "minhash.docs_per_s": ready["n_docs"] / setup["minhash.signatures_s"],
        "lsh.bands_table_s": setup["lsh.bands_table_s"],
        "serving.export_s": setup["serving.export_s"],
        "ingest.docs_per_s": ing["ingest_docs_per_s"],
        "ingest.freshness_s": ing["freshness_s"],
        "lsh.lsh_topk_s": med(t["lsh.lsh_topk_s"] for t in cyc),
        "tables.append_to_index_s": med(t["tables.append_to_index_s"] for t in cyc),
        "tables.bytes_written": med(t["tables.bytes_written"] for t in cyc),
        "serving.reload_s": med(t["serving.reload_s"] for t in cyc),
    }
    out.update(report)
    return out


def metric_table() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test scale")
    ap.add_argument("--inject-wrong-answer", action="store_true", help="self-test: corrupt routed answers")
    args = ap.parse_args()
    # a terminated run still stops the system process and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    e2e_units, layer_units = metric_table()
    host = host_info()
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    correct = True
    try:
        res = run(args, host, work)
    except GateFailed as e:
        print(f"perfbench: correctness check failed: {e}", file=sys.stderr)
        correct = False
    except RunFailed as e:
        print(f"perfbench: run failed: {e}", file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not correct:
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    attempted = sum(p["sent"] for k, p in res["phases"].items() if k != "warmup")
    failed = sum(p["failed"] for k, p in res["phases"].items() if k != "warmup")
    values, units = (res["layer"], layer_units) if args.trace else (res["e2e"], e2e_units)
    missing = set(units) - set(values)
    if missing:
        print(f"perfbench: metrics not measured: {sorted(missing)}", file=sys.stderr)
        return 2
    print(json.dumps({"workload": args.workload, "seed": args.seed, "host": host, "phases": res["phases"],
                      "builds": res["ready"]["builds"], "cycles": res["cycles"], "timeline": res["timeline"],
                      "inputs_s": res["ready"]["inputs_s"], "expected_s": res["ready"]["expected_s"],
                      "session_start_s": res["ready"]["session_start_s"]}))
    print(
        json.dumps(
            {
                "correct": True,
                "attempted": attempted,
                "failed": failed,
                "metrics": {name: {"value": float(values[name]), "unit": unit} for name, unit in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The system process: one Spark driver that builds, serves and appends.

Started by ``run.py`` with the host-fitted Spark environment. It speaks a
line protocol: JSON commands on stdin, one JSON reply per command on the
file descriptor that was stdout at start (fd 1 is then pointed at
stderr, so nothing Spark or the JVM prints can corrupt the protocol).

Everything it measures is timed here, around calls into the library's
public functions: ``session.get_spark``, ``operators.minhash``,
``operators.lsh``, ``sources.tables``, ``operators.serving`` and
``operators.serving_http``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import statistics
import sys
import threading
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402


class GateError(RuntimeError):
    """A correctness check failed: the run is wrong, not slow."""


class SparkPhases:
    """Per-phase readout of the SparkContext status store: the jobs a
    phase ran (every job id above the last one seen — phases run one at
    a time), their stages, tasks, executor run and CPU time, shuffle
    and output bytes."""

    FIELDS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_write_bytes")

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.last_job = self._max_job()
        self.records: dict[str, list[dict]] = {}

    def _job_ids(self) -> list[int]:
        """Every job id in the status store, whatever its job group."""
        self.jsc.listenerBus().waitUntilEmpty()
        jobs = self.spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            self.jsc.statusStore().jobsList(None)
        )
        return [job.jobId() for job in jobs]

    def _max_job(self) -> int:
        return max(self._job_ids(), default=-1)

    def cache_empty(self) -> bool:
        return bool(self.spark._jsparkSession.sharedState().cacheManager().isEmpty())

    def run(self, name: str, fn):
        """``(fn(), seconds it took)``, timed as phase ``name``, with its
        Spark work recorded after the clock stops. Fails the run when the
        phase started or ended with cached data or ran no stage (an
        answer served from Spark's cache)."""
        if not self.cache_empty():
            raise GateError(f"{name}: cached data present before a timed phase")
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
        store = self.jsc.statusStore()
        rec = dict.fromkeys(self.FIELDS, 0.0)
        rec["output_bytes"] = 0.0
        new_last = self.last_job
        for job_id in self._job_ids():
            if job_id <= self.last_job:
                continue
            new_last = max(new_last, job_id)
            rec["jobs"] += 1
            sids = store.job(job_id).stageIds()
            for k in range(sids.size()):
                st = store.lastStageAttempt(sids.apply(k))
                if str(st.status()) != "COMPLETE":
                    continue  # skipped: its output was reused
                rec["stages"] += 1
                rec["tasks"] += st.numTasks()
                rec["executor_run_s"] += st.executorRunTime() / 1e3
                rec["executor_cpu_s"] += st.executorCpuTime() / 1e9
                rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                rec["output_bytes"] += st.outputBytes()
        self.last_job = new_last
        if rec["stages"] == 0:
            raise GateError(f"{name}: ran no Spark stage (answered from cache?)")
        if not self.cache_empty():
            raise GateError(f"{name}: left cached data behind")
        self.records.setdefault(name, []).append(rec)
        return out, wall


def check_plan(name: str, df) -> None:
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "InMemoryTableScan" in plan or "InMemoryRelation" in plan:
        raise GateError(f"{name}: plan scans cached data")


# -- inputs -----------------------------------------------------------------


def py_signature(text: str, a, b) -> list[int]:
    """MinHash signature of one text, computed here without Spark: word
    1-shingles, portable md5 shingle hash, affine permutations mod
    2^31-1 (the definition ``operators.minhash`` implements). The run
    checks that Spark's signatures of the same texts are equal."""
    import hashlib

    import numpy as np

    from finding_similar_high_dimensional_items_for_big_data_sets_spark.config import EMPTY_SENTINEL, MERSENNE31

    shingles = {t for t in text.split(" ") if t}
    if not shingles:
        return [EMPTY_SENTINEL] * len(a)
    h = np.array([int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % MERSENNE31 for s in shingles], dtype=np.int64)
    return ((a[None, :] * h[:, None] + b[None, :]) % MERSENNE31).min(axis=0).tolist()


def perturb(words: list[str], rng: random.Random, vocab: int) -> list[str]:
    out = list(words)
    for _ in range(max(1, round(W.PERTURB * len(out)))):
        out[rng.randrange(len(out))] = f"w{rng.randrange(vocab)}"
    return out


def make_inputs(spec: dict, seed: int, work: str) -> dict:
    """Corpus, query pool and ingest batch, all from ``seed``.

    The corpus follows the reference generator that
    ``sources.tables.synthetic_documents`` also implements: round(N(40,
    10)) words (at least one) drawn uniformly from ``w0..w{vocab-1}``,
    plus planted near-duplicate clusters. It is drawn here and written
    with pyarrow, so no Spark job runs before the timed set-up."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from finding_similar_high_dimensional_items_for_big_data_sets_spark.config import MinHashParams, perm_coeffs

    rng = random.Random(seed)
    n, vocab = spec["n_docs"], spec["vocab"]

    def fresh_words() -> list[str]:
        return [f"w{rng.randrange(vocab)}" for _ in range(max(1, round(rng.gauss(40, 10))))]

    n_base = n - spec["clusters"] * spec["cluster_size"]
    texts = [" ".join(fresh_words()) for _ in range(n_base)]
    for _ in range(spec["clusters"]):  # near-duplicate clusters
        center = texts[rng.randrange(n_base)].split()
        texts += [" ".join(perturb(center, rng, vocab)) for _ in range(spec["cluster_size"])]

    pool = []
    for i in range(spec["pool"]):
        kind = ("member", "near_dup", "non_member")[i % 3]
        doc = rng.randrange(n)
        if kind == "member":
            text = texts[doc]
        elif kind == "near_dup":
            text = " ".join(perturb(texts[doc].split(), rng, vocab))
        else:
            text = " ".join(fresh_words())
        pool.append((kind, doc, text))

    batches = []
    for c in range(W.CYCLES):
        batch = []
        for j in range(W.BATCH_DOCS):
            if j % 2 == 0:  # near-duplicate of an indexed doc
                words = perturb(texts[rng.randrange(n)].split(), rng, vocab)
            else:
                words = fresh_words()
            # a token no other doc has: each appended doc is its own
            # unique best match, so servability is checkable
            batch.append((n + c * W.BATCH_DOCS + j, " ".join(words + [f"u{c}x{j}"])))
        batches.append(batch)

    def write(path, rows, files=1):
        """``rows`` as a parquet directory of ``files`` files (the scan
        of a multi-file table runs one task per file)."""
        os.makedirs(path)
        step = -(-len(rows) // files)
        for f in range(files):
            ids, txt = zip(*rows[f * step : (f + 1) * step])
            table = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(txt, pa.string())})
            pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))
        return path

    params = MinHashParams()
    a, b = (np.array(x, dtype=np.int64) for x in perm_coeffs(params.num_perm, params.seed))
    return {
        "docs_path": write(os.path.join(work, "inputs", "docs"), list(enumerate(texts)), W.CORPUS_FILES),
        "batch_paths": [write(os.path.join(work, "inputs", f"batch{c}"), b_) for c, b_ in enumerate(batches)],
        "pool": [{"kind": k, "doc": d, "vector": py_signature(t, a, b)} for k, d, t in pool],
        "batches": [[{"id": d, "vector": py_signature(t, a, b)} for d, t in bt] for bt in batches],
    }


# -- the system -------------------------------------------------------------


class System:
    def __init__(self, args):
        self.args = args
        self.work = args.work
        self.spec = W.spec(args.workload, args.tiny)
        self.tracer = None
        if args.trace:
            from spans import Tracer

            self.tracer = Tracer()
            self.tracer.install()
        t0 = time.perf_counter()
        from finding_similar_high_dimensional_items_for_big_data_sets_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.session_start_s = time.perf_counter() - t0
        from finding_similar_high_dimensional_items_for_big_data_sets_spark.config import MinHashParams

        self.params = MinHashParams()
        self.phases = SparkPhases(self.spark)
        self.servers = []
        self.router = None
        self.shards = []

    # set-up: sign, band, persist, export, bind
    def setup(self, j: int) -> dict:
        """Build ``j``: a whole index of its own, from the unpersisted
        corpus, bound behind a router of its own."""
        from pyspark.sql import functions as F

        from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import (
            lsh,
            minhash,
            serving,
            serving_http,
        )
        from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources import tables

        spark, ph = self.spark, self.phases
        index = os.path.join(self.work, "index", f"b{j}")
        shards = [(os.path.join(index, "sigs", f"shard={i}"), f"bands_b{j}_s{i}") for i in range(W.N_REPLICAS)]
        t = {}

        def sign():
            # one job for all shards: shard i's signatures land in the
            # partition directory <sigs>/shard=i, its own index table
            sigs = minhash.signatures(spark.read.parquet(self.inputs["docs_path"]), self.params)
            check_plan("minhash.signatures", sigs)
            sigs.withColumn("shard", F.pmod(F.col("doc_id"), F.lit(W.N_REPLICAS))).write.partitionBy(
                "shard"
            ).parquet(os.path.join(index, "sigs"))

        def band():
            for sigs_path, table in shards:
                bands = lsh.bands_table(spark.read.parquet(sigs_path), self.params)
                check_plan("lsh.bands_table", bands)
                tables.write_bands_bucketed(bands, table, num_buckets=4)

        def export():
            return [serving.ServingIndex.from_paths(spark, s, b, self.params) for s, b in shards]

        _, t["minhash.signatures_s"] = ph.run("setup.sign", sign)
        _, t["lsh.bands_table_s"] = ph.run("setup.bands", band)
        replicas, t["serving.export_s"] = ph.run("setup.export", export)
        t0 = time.perf_counter()
        servers = [serving_http.start_server(r, spark=spark)[0] for r in replicas]
        urls = ["http://%s:%d" % s.server_address[:2] for s in servers]
        router = serving_http.start_router_server("lsh", urls)[0]
        t["serving_http.bind_s"] = time.perf_counter() - t0
        t["total_s"] = sum(t.values())
        self.servers, self.router, self.shards = servers, router, shards
        self.replicas = replicas
        return t

    def stop_servers(self):
        """Stop every server at once (each ``shutdown`` waits for its
        serve loop's next poll)."""
        servers = self.servers + ([self.router] if self.router else [])
        stoppers = [threading.Thread(target=s.shutdown) for s in servers]
        for t in stoppers:
            t.start()
        for t in stoppers:
            t.join()
        for s in servers:
            s.server_close()
        self.servers, self.router = [], None

    def index_frames(self):
        """(sigs, bands) DataFrames of the whole persisted index: the
        union of the shards."""
        sigs = self.spark.read.parquet(*[s for s, _b in self.shards])
        bands = None
        for _s, b in self.shards:
            table = self.spark.table(b)
            bands = table if bands is None else bands.unionByName(table)
        return sigs, bands

    def expected_answers(self) -> None:
        """Reference answers for the pool: the single full-index
        ``ServingIndex.query`` (what the routed answer must equal) and
        the exact estimated-Jaccard top-k over the same signatures
        (what recall is measured against)."""
        import numpy as np

        from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import serving

        full = serving.ServingIndex.from_dataframes(*self.index_frames(), self.params)
        for q in self.inputs["pool"]:
            vec = np.asarray(q["vector"], dtype=np.int64)
            # gate: the query vectors the load generator sends come from
            # py_signature; a member's must equal Spark's indexed row
            if q["kind"] == "member":
                row = np.searchsorted(full.doc_ids, q["doc"])
                if full.doc_ids[row] != q["doc"] or not np.array_equal(full.sigs[row], vec):
                    raise GateError(f"Spark's signature of doc {q['doc']} differs from the reference computation")
            q["expect"] = [[d, s] for d, s, _r in full.query(vec, k=W.K)]
            counts = (full.sigs == vec).sum(axis=1)
            hit = np.flatnonzero(counts > 0)
            order = np.lexsort((full.doc_ids[hit], -counts[hit]))[: W.K]
            q["oracle"] = [int(full.doc_ids[hit[i]]) for i in order]
        self.full = full

    def start(self) -> dict:
        t0 = time.perf_counter()
        self.inputs = make_inputs(self.spec, self.args.seed, self.work)
        t1 = time.perf_counter()
        builds = []
        for j in range(W.BUILDS):
            if j:
                self.stop_servers()
            builds.append(self.setup(j))
        t2 = time.perf_counter()
        self.expected_answers()
        t3 = time.perf_counter()
        qpath = os.path.join(self.work, "queries.json")
        with open(qpath, "w") as f:
            json.dump({"pool": self.inputs["pool"], "batches": self.inputs["batches"]}, f)
        return {
            "event": "ready",
            "router": "http://%s:%d" % self.router.server_address[:2],
            "queries": qpath,
            "session_start_s": self.session_start_s,
            "builds": builds,
            "inputs_s": t1 - t0,
            "expected_s": t3 - t2,
            "n_docs": int(self.full.doc_ids.size),
        }

    # ingest while serving
    def cycle(self, c: int) -> dict:
        from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import lsh, minhash
        from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources import tables
        from pyspark.sql import functions as F

        spark, ph = self.spark, self.phases
        batch_path = self.inputs["batch_paths"][c]
        staged = os.path.join(self.work, f"staged{c}")
        t = {}

        def sign():
            sigs = minhash.signatures(spark.read.parquet(batch_path), self.params)
            check_plan("ingest.sign", sigs)
            sigs.write.parquet(staged)

        def dup_check():
            sigs, bands = self.index_frames()
            q = spark.read.parquet(staged).withColumnRenamed("doc_id", "query_id")
            res = lsh.lsh_topk(sigs, bands, q, self.params, k=1)
            check_plan("lsh.lsh_topk", res)
            return res.filter(F.col("score") >= 0.5).count()

        def append():
            for i, (sigs_path, table) in enumerate(self.shards):
                docs = spark.read.parquet(batch_path)
                part = docs.filter(F.pmod(F.col("doc_id"), F.lit(W.N_REPLICAS)) == i)
                tables.append_to_index(part, self.params, sigs_path, table)

        def reload():
            status, body = post_json("http://%s:%d/reload" % self.router.server_address[:2], {})
            if status != 200:
                raise GateError(f"reload failed: HTTP {status} {body}")
            for rep in body["replicas"].values():
                if not all(v.get("reloaded") for v in rep["indexes"].values()):
                    raise GateError(f"replica did not reload after an append: {body}")

        for name, key, fn in (
            ("ingest.sign", "ingest.sign_s", sign),
            ("lsh.lsh_topk", "lsh.lsh_topk_s", dup_check),
            ("tables.append_to_index", "tables.append_to_index_s", append),
            ("serving.reload", "serving.reload_s", reload),
        ):
            out, t[key] = ph.run(name, fn)
            if name == "lsh.lsh_topk":
                t["dups"] = out
        t["tables.bytes_written"] = ph.records["tables.append_to_index"][-1]["output_bytes"]
        t["docs"] = len(self.inputs["batches"][c])
        # gate: every appended doc is servable through the router
        batch = self.inputs["batches"][c]
        status, body = post_json(
            "http://%s:%d/query_batch" % self.router.server_address[:2],
            {"queries": [{"vector": d["vector"]} for d in batch], "k": W.K},
        )
        if status != 200:
            raise GateError(f"servability query failed: HTTP {status}")
        for d, res in zip(batch, body["results"]):
            if d["id"] not in [x["id"] for x in res["candidates"]]:
                raise GateError(f"appended doc {d['id']} is not servable after reload")
        return t

    def report(self, sent: dict) -> dict:
        """Per-layer record: Spark phases, candidates per query for the
        queries the load generator sent, spans, memory."""
        import numpy as np

        from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.serving_hash import (
            band_hashes_local,
        )

        out = {}
        for name, recs in self.phases.records.items():
            for field in SparkPhases.FIELDS:
                out[f"spark.{name}.{field}"] = statistics.median(r[field] for r in recs)
        # candidates scored per query, summed over replicas (computed
        # here from the bucket tables, outside any timed region)
        total = n = 0
        for qi, count in sent.items():
            vec = np.asarray(self.inputs["pool"][int(qi)]["vector"], dtype=np.int64)
            hashes = band_hashes_local(vec, self.params)
            for rep in self.replicas:
                rows = [rep.buckets[b][h] for b, h in enumerate(hashes) if h in rep.buckets[b]]
                total += count * (np.unique(np.concatenate(rows)).size if rows else 0)
            n += count
        out["serving.candidates_per_query"] = total / n if n else 0.0
        out["serving.scored_per_result"] = out["serving.candidates_per_query"] / W.K
        if self.tracer is not None:
            out.update(self.tracer.summary())
            self.tracer.dump(os.path.join(self.work, "spans.jsonl"))
        # the Python driver holds every replica and the router; the JVM's
        # peak follows its garbage collector more than the data
        out["peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        jvm_pid = self.spark.sparkContext._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{jvm_pid}/status") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        out["spark.jvm_peak_rss_mb"] = kb / 1024.0
        return out


def post_json(url: str, body) -> tuple[int, dict]:
    req = urllib.request.Request(
        url, data=json.dumps(body).encode(), headers={"Content-Type": "application/json"}, method="POST"
    )
    try:
        with urllib.request.urlopen(req, timeout=60) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, {"error": e.read().decode(errors="replace")}


def inject_wrong_answer() -> None:
    """Self-test only: the router drops its best hit, so routed answers
    stop matching the full index and the run must fail."""
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import serving

    merge = serving.merge_topk

    def wrong(results, k):
        return [(d, s, r) for d, s, r in merge(results, k + 1)[1:]]

    serving.merge_topk = wrong


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--inject-wrong-answer", action="store_true")
    args = ap.parse_args()

    proto = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    def reply(obj):
        proto.write(json.dumps(obj) + "\n")

    try:
        system = System(args)
        if args.inject_wrong_answer:
            inject_wrong_answer()
        reply(system.start())
        for line in sys.stdin:
            cmd = json.loads(line)
            op = cmd["cmd"]
            if op == "cpu":
                reply({"cpu_s": time.process_time()})
            elif op == "trace":
                system.tracer.on = bool(cmd["on"])
                reply({"ok": True})
            elif op == "cycle":
                reply(system.cycle(cmd["c"]))
            elif op == "report":
                reply(system.report(cmd["sent"]))
            elif op == "stop":
                # the load generator ends the JVM with this process group
                system.stop_servers()
                reply({"ok": True})
                proto.close()
                os._exit(0)
    except GateError as e:
        reply({"event": "gate_failed", "error": str(e)})
        return 3
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The workloads, their output checks and their metrics.

- ``api``: one closed-loop client sends the read mix beside writes, as the
  engine is single-writer (``next_id`` is ``max(id)+1``) and the reference
  server single-threaded. A write is acknowledged once ``engine.save``
  returns, and the next request reads it back.
- ``batch``: the graph jobs and the pretraining-data pipeline, submitted
  together once per cycle. One checked cycle warms up before measuring.

Each run generates its inputs from the seed, sets up ``SETUP_REPS`` times
in one process (``setup_s`` is the median; the first set-up also launches
the JVM), measures for the given seconds, then checks the state. A traced
run measures once more with spans on, so the tracing overhead is the
difference.
"""

from __future__ import annotations

import functools
import hashlib
import itertools
import json
import os
import shutil
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import gen
import metrics
from gen import WRITE_OPS
from metrics import BATCH_JOBS, READ_OPS, med
from spans import Tracer

CPUS = 4
SETUP_REPS = 3
API_NODES = 3000
BATCH_NODES = 4000
CORPUS = {"n_docs": 2000, "n_low_quality": 40, "n_exact": 60, "n_near": 60,
          "n_leaks": 60}
TAG_ZIPF = 0.8
TAG_THRESHOLD = 0.5
WRITES_PER_DECK = 2
WARM_DECKS = 2
LIST_LIMIT = 20
SIMILAR_K = 10


class CheckFailed(Exception):
    pass


FAILED = object()  # the response of an engine call that raised


def engine_errors() -> tuple:
    """What a failed engine call raises: an API error, or a Spark or Py4J
    error from below it."""
    from py4j.protocol import Py4JError
    from pyspark.errors import PySparkException
    from thewhisperdb_spark.api import ApiError

    return ApiError, PySparkException, Py4JError


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


# ---------------------------------------------------------------------------
# Spark session lifecycle
# ---------------------------------------------------------------------------

class Session:
    """Owns the SparkSession and the JVM behind it for one benchmark run."""

    def __init__(self):
        self.spark = None

    def restart(self):
        from thewhisperdb_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", cpus=CPUS)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        """Stop Spark, then end the JVM and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


# ---------------------------------------------------------------------------
# engine state model (the reference every read is checked against)
# ---------------------------------------------------------------------------

def _norm_row(d: dict) -> dict:
    emb = d.get("embedding")
    return {
        "id": int(d["id"]), "title": d["title"], "author": d["author"],
        "subject": d["subject"], "course": int(d["course"]),
        "description": d["description"], "date": d["date"],
        "tags": list(d["tags"] or []), "storage_path": d.get("storage_path"),
        "linked_nodes": [int(x) for x in (d.get("linked_nodes") or [])],
        "embedding": (None if emb is None or len(emb) == 0
                      else np.asarray(emb, dtype=np.float32)),
    }


class Model:
    """Acknowledged node state, files and key order, kept beside the engine."""

    def __init__(self, graph: dict, seed: int):
        self.rows = {int(r["id"]): _norm_row(r)
                     for r in graph["nodes"].to_dict("records")}
        self.tag_bank = list(graph["tags"])
        self.tag_order = sorted(graph["tags"])  # tag-0000 is the most popular
        rng = np.random.default_rng([seed, 4])
        self.hot = [int(x) for x in rng.permutation(sorted(self.rows))]
        self.files: dict[int, list[tuple[str, str]]] = {}  # id -> (path, sha)
        self._emb = None

    def pick(self, stream: gen.RequestStream, embedded: bool = False) -> int:
        while True:
            nid = self.hot[stream.rank(len(self.hot))]
            if not embedded or self.rows[nid]["embedding"] is not None:
                return nid

    def matrix(self):
        if self._emb is None:
            ids = [i for i, r in self.rows.items() if r["embedding"] is not None]
            m = np.stack([self.rows[i]["embedding"] for i in ids]).astype(np.float64)
            self._emb = (np.array(ids), m)
        return self._emb

    def changed(self) -> None:
        self._emb = None

    def match(self, filters: dict) -> list[dict]:
        out = []
        for r in self.rows.values():
            if ("subject" in filters and r["subject"] != filters["subject"]) or \
               ("author" in filters and r["author"] != filters["author"]) or \
               ("course" in filters and r["course"] != int(filters["course"])) or \
               ("tag" in filters and filters["tag"] not in r["tags"]):
                continue
            out.append(r)
        return out


def check_node(got: dict, want: dict) -> None:
    g = _norm_row(got)
    for k in ("id", "title", "author", "subject", "course", "description",
              "date", "tags", "storage_path", "linked_nodes"):
        expect(g[k] == want[k], f"node {want['id']} field {k}: {g[k]!r} != {want[k]!r}")
    ge, we = g["embedding"], want["embedding"]
    expect((ge is None and we is None) or
           (ge is not None and we is not None and np.array_equal(ge, we)),
           f"node {want['id']} embedding differs")


# ---------------------------------------------------------------------------
# API requests
# ---------------------------------------------------------------------------

def read_request(api, eng, model: Model, op: str, s: gen.RequestStream):
    """Build one read, return (call, check) closures."""
    if op == "get_node":
        return _get(api, eng, model, model.pick(s))
    if op == "list_nodes":
        filters = {"subject": s.choice(gen.SUBJECTS)}
        if s.uniform(2):
            filters["course"] = str(s.choice(gen.COURSES))
        sort = s.choice(["title", "date", "author", "id"])
        order = s.choice(["asc", "desc"])
        offset = s.uniform(40)

        def check(r):
            rows = model.match(filters)
            rows.sort(key=lambda x: x["id"])
            if sort != "id":
                rows.sort(key=lambda x: x[sort], reverse=(order == "desc"))
            elif order == "desc":
                rows.reverse()
            want = rows[offset:offset + LIST_LIMIT]
            expect([n["id"] for n in r["nodes"]] == [w["id"] for w in want],
                   f"list_nodes {filters} {sort} {order} order")
            for n, w in zip(r["nodes"], want):
                check_node(n, w)
            return len(want)
        return (lambda: api.list_nodes(eng, filters, sort=sort, order=order,
                                       limit=LIST_LIMIT, offset=offset), check)
    if op == "count_nodes":
        if s.uniform(2):
            filters = {"author": s.choice(gen.AUTHORS)}
        else:
            filters = {"tag": model.tag_order[s.rank(len(model.tag_order))]}

        def check(r):
            expect(r["count"] == len(model.match(filters)), f"count_nodes {filters}")
            return 1
        return lambda: api.count_nodes(eng, filters), check
    if op == "tag_nodes":
        tag = model.tag_order[s.rank(len(model.tag_order))]

        def check(r):
            want = sorted(n["id"] for n in model.match({"tag": tag}))
            expect([n["id"] for n in r["nodes"]] == want, f"tag_nodes {tag}")
            return len(want)
        return lambda: api.tag_nodes(eng, tag), check
    if op == "similar_nodes":
        nid = model.pick(s, embedded=True)

        def check(r):
            ids, m = model.matrix()
            q = model.rows[nid]["embedding"].astype(np.float64)
            sims = dict(zip(ids.tolist(),
                            (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))))
            del sims[nid]
            want = sorted(sims.values(), reverse=True)[:SIMILAR_K]
            got = [n["similarity"] for n in r["nodes"]]
            expect(all(a >= b for a, b in zip(got, got[1:])),
                   "similar_nodes not sorted by similarity")
            expect(len(got) == len(want) and np.allclose(got, want, atol=1e-5),
                   "similar_nodes is not the top k")
            expect(all(abs(sims[n["id"]] - n["similarity"]) < 1e-5 for n in r["nodes"]),
                   "similar_nodes scores differ from the nodes' cosines")
            return len(got)
        return lambda: api.similar_nodes(eng, nid, SIMILAR_K), check
    raise ValueError(op)


def write_request(api, eng, model: Model, op: str, s: gen.RequestStream,
                  storage_root: str, k: int):
    """Build one write: returns (call, apply) where ``apply(response)``
    checks the response, updates the model and returns the read-back
    (call, check) pair that must see the write."""
    if op == "create_node":
        meta = {"title": f"created {k}", "author": s.choice(gen.AUTHORS),
                "subject": s.choice(gen.SUBJECTS),
                "course": int(s.choice(gen.COURSES)),
                "tags": sorted({model.tag_order[s.rank(len(model.tag_order))]
                                for _ in range(2)}),
                "description": f"created by client {k}",
                "date": "2025-06-01 12:00:00"}

        def apply(r):
            nid = max(model.rows) + 1
            expect(r["nodeId"] == nid, f"create_node id {r['nodeId']} != {nid}")
            model.rows[nid] = _norm_row({**meta, "id": nid, "linked_nodes": [],
                                         "storage_path": None, "embedding": None})
            model.hot.append(nid)
            model.changed()
            return nid
        return lambda: api.create_node(eng, meta), apply
    nid = model.pick(s)
    if op == "update_node":
        patch = {"title": f"{model.rows[nid]['title']} u{k}",
                 "course": int(s.choice(gen.COURSES)),
                 "tags": [model.tag_order[s.rank(len(model.tag_order))]]}

        def apply(r):
            expect(r["nodeId"] == nid, "update_node id")
            model.rows[nid].update(title=patch["title"], course=patch["course"],
                                   tags=patch["tags"])
            return nid
        return lambda: api.update_node(eng, nid, patch), apply
    if op == "delete_node":
        def apply(r):
            from thewhisperdb_spark import storage

            expect(r["deleted"] == nid, "delete_node id")
            for path, _ in model.files.pop(nid, []):
                expect(not os.path.exists(os.path.join(storage_root, path)),
                       f"file {path} of deleted node {nid} still stored")
                expect(not storage.delete_file(storage_root, path), "delete twice")
            del model.rows[nid]
            model.hot.remove(nid)
            model.changed()
            return None
        return lambda: api.delete_node(eng, nid, storage_root), apply
    if op == "add_files_to_node":
        content = s.rng.bytes(int(s.rng.integers(256, 4096)))
        name = f"attachment-{k}.bin"

        def apply(r):
            from thewhisperdb_spark import storage

            expect(r["nodeId"] == nid and len(r["addedFiles"]) == 1, "add_files id")
            path = r["addedFiles"][0]
            expect(storage.read_file(storage_root, path) == content,
                   "stored attachment bytes differ")
            if not model.files.get(nid):
                model.rows[nid]["storage_path"] = path
            model.files.setdefault(nid, []).append(
                (path, hashlib.sha256(content).hexdigest()))
            return nid
        return (lambda: api.add_files_to_node(eng, nid, [(name, content)],
                                              storage_root), apply)
    raise ValueError(op)


# ---------------------------------------------------------------------------
# the benchmark run
# ---------------------------------------------------------------------------

class Run:
    """One benchmark run of one workload: set-ups, warm-up, measurement,
    checks and metrics."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str, out_dir: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.work, self.out_dir = trace, work, out_dir
        self.sess = Session()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.lock = threading.Lock()
        self.extra: dict[str, float] = {}  # layer values measured directly
        self.save_stats: list[tuple[int, int, int]] = []
        self.attachment_bytes = 0
        self.pairs_out: dict[str, int] = {}
        self.pipeline_rows: dict[str, int] = {}
        self.batch_ms: dict[str, list[float]] = {}
        self.snap = os.path.join(work, "snapshot")
        self.files = os.path.join(work, "files")
        self.setup_s = 0.0
        self._t = time.perf_counter()

    def log(self, what: str) -> None:
        now = time.perf_counter()
        print(f"perfbench: {what} {now - self._t:.2f}s", file=sys.stderr, flush=True)
        self._t = now

    def execute(self) -> tuple[dict, dict]:
        """Returns (end-to-end metrics, per-layer metrics or {})."""
        try:
            inputs = {"graph": gen.make_graph(
                self.seed, BATCH_NODES if self.workload == "batch" else API_NODES,
                tag_zipf=TAG_ZIPF)}
            if self.workload == "batch":
                inputs["corpus"] = gen.make_corpus(self.seed, **CORPUS)
            self.log("input generation")
            state = self.setups(inputs)
            sc = self.sess.spark.sparkContext
            if self.workload == "batch":
                self.batch_cycle(state, Tracer(sc, False))
                self.log("batch warm-up cycle")
                measure = functools.partial(self.measure_batch, state)
            else:
                model = Model(state["graph"], self.seed)
                # untimed and checked: reads keep getting faster for about
                # a hundred requests, the save path over its first writes
                self.measure_api(state["engine"], model, Tracer(sc, False), 98,
                                 decks=WARM_DECKS)
                self.log("warm-up decks")
                measure = functools.partial(self.measure_api, state["engine"], model)
            base = measure(Tracer(sc, False), 0)
            self.log(f"measure ({len(base['ops'])} ops)")
            self.log("per class " + " ".join(
                f"{c}={len(v)}x{med(v):.0f}" for c, v in _by_class(base["ops"]).items())
                + ":")
            e2e = metrics.end_to_end(self.setup_s, base)
            layer = {}
            if self.trace:
                layer = self.traced(measure, base)
            if self.workload != "batch":
                self.check_durable(model)
            self.log("checks")
            return e2e, layer
        finally:
            self.sess.close()

    def traced(self, measure, base: dict) -> dict:
        """Measure again with spans on; both windows run warm."""
        tr = Tracer(self.sess.spark.sparkContext, True)
        self.install(tr)
        try:
            traced = measure(tr, 100)
        finally:
            tr.restore()
        self.log(f"traced measure ({len(traced['ops'])} ops)")
        extra = self.layer_extra()
        tr.harvest()
        self.log(f"harvest ({len(tr.spans)} spans)")
        os.makedirs(self.out_dir, exist_ok=True)
        tr.dump(os.path.join(self.out_dir, f"spans-{self.workload}-{self.seed}.jsonl"))
        return metrics.layer_metrics(tr, traced, base, extra, CPUS)

    # ---- bookkeeping ------------------------------------------------------

    def record(self, ok: bool, what: str = "") -> None:
        with self.lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.failures) < 20:
                    self.failures.append(what)

    def checked(self, fn, *a):
        """Run a check, counting the operation; a failed check or an engine
        error counts as a failed operation. Returns fn's result or None."""
        try:
            out = fn(*a)
        except (CheckFailed, KeyError, ValueError, *engine_errors()) as e:
            self.record(False, f"{type(e).__name__}: {e}")
            return None
        self.record(True)
        return out

    def attempt(self, call):
        """Call the engine. An engine error counts as a failed operation and
        returns ``FAILED``, and the caller skips the response's check."""
        try:
            return call()
        except engine_errors() as e:
            self.record(False, f"{type(e).__name__}: {e}")
            return FAILED

    def write_acked(self, eng, op: str, call, tr: Tracer):
        """The write, then ``engine.save``: the write is acknowledged once the
        save returns. Returns the write's response or ``FAILED``."""
        def write():
            with tr.span(f"api.{op}"):
                resp = call()
            eng.save(self.snap)
            return resp
        return self.attempt(write)

    # ---- set-up -----------------------------------------------------------

    def persist_graph(self, spark, graph: dict, path: str) -> None:
        from thewhisperdb_spark.crud import GraphEngine
        from thewhisperdb_spark.schemas import NODE_SCHEMA, TAG_BANK_SCHEMA

        shutil.rmtree(path, ignore_errors=True)
        nodes = spark.createDataFrame(graph["nodes"], NODE_SCHEMA)
        bank = spark.createDataFrame([(t,) for t in graph["tags"]], TAG_BANK_SCHEMA)
        GraphEngine(spark, nodes=nodes, tag_bank=bank).save(path)

    def setup(self, inputs: dict):
        """One set-up: session start, persist of the generated inputs, engine
        load, first touch. Returns (state, total_s, start_s, load_s)."""
        from thewhisperdb_spark.crud import GraphEngine

        t0 = time.perf_counter()
        spark = self.sess.restart()
        t1 = time.perf_counter()
        state = dict(inputs, snap=self.snap)
        shutil.rmtree(self.files, ignore_errors=True)
        self.persist_graph(spark, state["graph"], self.snap)
        if "corpus" in state:
            state["corpus_path"] = os.path.join(self.work, "corpus")
            (spark.createDataFrame(state["corpus"]["docs"])
             .write.mode("overwrite").parquet(state["corpus_path"]))
        t2 = time.perf_counter()
        state["engine"] = GraphEngine.load(spark, self.snap)
        t3 = time.perf_counter()
        if self.workload == "batch":
            self.batch_first_touch(state)
        else:
            self.api_first_touch(state)
        return state, time.perf_counter() - t0, t1 - t0, t3 - t2

    def setups(self, inputs: dict) -> dict:
        """``SETUP_REPS`` set-ups in this process; the last one's state is
        measured. The first also launches the JVM."""
        totals, starts, loads = [], [], []
        for _ in range(SETUP_REPS):
            state, tot, st, ld = self.setup(inputs)
            totals.append(tot)
            starts.append(st)
            loads.append(ld)
            self.log(f"set-up (start {st:.2f}s, load {ld:.2f}s)")
        self.setup_s = med(totals)
        self.extra["session.start_s"] = med(starts)
        self.extra["crud.load_s"] = med(loads)
        return state

    # ---- API workload -----------------------------------------------------

    def api_first_touch(self, state: dict) -> None:
        """One request of each read type."""
        from thewhisperdb_spark import api

        model = Model(state["graph"], self.seed)
        s = gen.RequestStream(self.seed, 99)
        for op in READ_OPS:
            call, check = read_request(api, state["engine"], model, op, s)
            resp = self.attempt(call)
            if resp is not FAILED:
                self.checked(check, resp)

    def measure_api(self, eng, model: Model, tr: Tracer, stream_base: int,
                    decks: int = 0) -> dict:
        """One closed-loop client for ``self.seconds`` in whole decks, or for
        ``decks`` decks: the read mix and writes, each write acknowledged by
        ``engine.save`` and then read back. Every request is a measured
        operation, classed by its type."""
        from thewhisperdb_spark import api

        s = gen.RequestStream(self.seed, stream_base, WRITES_PER_DECK)
        deadline = time.perf_counter() + self.seconds
        ops: list[tuple[str, float]] = []
        k = itertools.count()

        def read(op, call, check):
            if tr.enabled:
                self.extra["crud.nodes_plan_nodes"] = max(
                    self.extra.get("crud.nodes_plan_nodes", 0), _plan_nodes(eng.nodes))
            t = time.perf_counter()
            with tr.span(f"request.{op}", request=next(k)):
                with tr.span(f"api.{op}") as sp:
                    resp = self.attempt(call)
            ops.append((op, (time.perf_counter() - t) * 1000))
            rows = None if resp is FAILED else self.checked(check, resp)
            if sp is not None:
                sp.attrs["rows"] = rows or 0

        t0 = time.perf_counter()
        done = 0
        while done < decks if decks else time.perf_counter() < deadline:
            done += 1
            for op in s.deck():
                if op not in WRITE_OPS:
                    read(op, *read_request(api, eng, model, op, s))
                    continue
                call, apply = write_request(api, eng, model, op, s, self.files, next(k))
                t = time.perf_counter()
                with tr.span(f"request.{op}", request=next(k)):
                    resp = self.write_acked(eng, op, call, tr)
                ops.append((op, (time.perf_counter() - t) * 1000))
                if resp is FAILED:
                    continue
                if tr.enabled:
                    self.note_save(model, resp)
                nid = self.checked(apply, resp)
                # the next request reads the acknowledged write back
                if op == "delete_node":
                    read("count_nodes", *_count_subject(api, eng, model))
                elif nid is not None:
                    read("get_node", *_get(api, eng, model, nid))
        return {"ops": ops, "wall": time.perf_counter() - t0}

    def note_save(self, model: Model, resp: dict) -> None:
        """Snapshot size after a save, against the JSON size of the live
        rows; attachment bytes stored by the write."""
        nbytes, nfiles = metrics.dir_size(self.snap)
        live = sum(len(json.dumps({**r, "embedding": None if r["embedding"] is None
                                   else r["embedding"].tolist()}))
                   for r in model.rows.values())
        self.save_stats.append((nbytes, nfiles, live))
        self.attachment_bytes += sum(os.path.getsize(os.path.join(self.files, p))
                                     for p in resp.get("addedFiles", []))

    def check_durable(self, model: Model) -> None:
        """The acknowledged state must survive a fresh load of the snapshot."""
        from thewhisperdb_spark import storage
        from thewhisperdb_spark.crud import GraphEngine

        def check():
            fresh = GraphEngine.load(self.sess.spark, self.snap)
            rows = {r["id"]: r.asDict() for r in fresh.nodes.collect()}
            expect(sorted(rows) == sorted(model.rows),
                   f"reloaded ids differ: {len(rows)} vs {len(model.rows)}")
            for nid, want in model.rows.items():
                check_node(rows[nid], want)
            files = sorted((r["node_id"], r["file_path"])
                           for r in fresh.node_files.collect())
            want_files = sorted((nid, p) for nid, fs in model.files.items()
                                for p, _ in fs)
            expect(files == want_files, "reloaded node_files differ")
            for fs in model.files.values():
                for p, sha in fs:
                    expect(hashlib.sha256(storage.read_file(self.files, p))
                           .hexdigest() == sha, f"attachment {p} corrupted")
            expect(sorted(r["tag"] for r in fresh.tag_bank.collect())
                   == sorted(model.tag_bank), "reloaded tag bank differs")
        self.checked(check)

    # ---- batch workload ---------------------------------------------------

    def batch_first_touch(self, state: dict) -> None:
        """Row counts of both persisted inputs."""
        docs = self.sess.spark.read.parquet(state["corpus_path"])
        self.checked(lambda: expect(
            state["engine"].count() == len(state["graph"]["nodes"])
            and docs.count() == len(state["corpus"]["docs"]),
            "persisted inputs lost rows"))

    def batch_job(self, state: dict, tr: Tracer, job: str) -> float:
        """Run one batch job on the persisted inputs (graph jobs on a freshly
        loaded engine) and check its output; returns milliseconds."""
        from thewhisperdb_spark import api
        from thewhisperdb_spark.crud import GraphEngine
        from thewhisperdb_spark.plans import pipeline

        spark = self.sess.spark
        eng = GraphEngine.load(spark, state["snap"])
        docs = spark.read.parquet(state["corpus_path"])
        call = {"link_all_tags": lambda: api.link_all_tags(eng, TAG_THRESHOLD),
                "run_cluster_job": lambda: api.run_cluster_job(
                    eng, gen.CLUSTER_THRESHOLD),
                "clusters": lambda: api.clusters(eng),
                "pipeline": lambda: pipeline.run_pretraining_pipeline(docs)}[job]
        t = time.perf_counter()
        with tr.span(f"job.{job}"):
            resp = self.attempt(call)
        ms = (time.perf_counter() - t) * 1000
        if resp is FAILED:
            return ms
        self.checked(BATCH_CHECKS[job], self, state, eng, resp)
        with self.lock:
            if job == "pipeline":
                self.pipeline_rows = dict(resp["stages"])
            elif job != "clusters":
                self.pairs_out[job] = (resp["linksCreated"] if job == "link_all_tags"
                                       else resp["statistics"]["linksCreated"])
        return ms

    def batch_cycle(self, state: dict, tr: Tracer) -> list[tuple[str, float]]:
        """Submit every batch job at once, as a job server would; returns
        (job, ms) per job."""
        with ThreadPoolExecutor(len(BATCH_JOBS), thread_name_prefix="job") as pool:
            futures = {job: pool.submit(self.batch_job, state, tr, job)
                       for job in BATCH_JOBS}
            return [(job, f.result()) for job, f in futures.items()]

    def measure_batch(self, state: dict, tr: Tracer, _stream_base: int) -> dict:
        """Whole cycles in ``self.seconds``, at least one: another cycle
        starts only if it would end in time at the last cycle's length. A
        11 s window holds one. Each job run is a measured operation."""
        ops: list[tuple[str, float]] = []
        t0 = time.perf_counter()
        last = 0.0
        while not ops or time.perf_counter() - t0 + last <= self.seconds:
            t = time.perf_counter()
            ops += self.batch_cycle(state, tr)
            last = time.perf_counter() - t
        self.batch_ms = _by_class(ops)
        return {"ops": ops, "wall": time.perf_counter() - t0}

    # ---- tracing ----------------------------------------------------------

    def install(self, tr: Tracer) -> None:
        """Wrap the public entry points of each layer the workloads reach."""
        from pyspark.sql.classic.dataframe import DataFrame
        from thewhisperdb_spark import api, crud, storage
        from thewhisperdb_spark.operators import (
            aggregates, dedup, graph, sampling, tags, vectors)
        from thewhisperdb_spark.plans import jobs, pipeline

        for name in ("find", "exists", "next_id", "save"):
            tr.wrap(crud.GraphEngine, name, f"crud.{name}")
        tr.wrap(storage, "save_file", "storage.save_file")
        for name in ("conjunction", "contains_filter", "eq_filter",
                     "has_embedding", "tag_filter"):
            tr.wrap(api, name, "filters.predicate")
        tr.wrap(api, "sort_nodes", "sorting.sort_nodes")
        tr.wrap(api, "paginate", "sorting.paginate")
        tr.wrap(vectors, "topk_similar", "vectors.topk_similar")
        tr.wrap(jobs, "similar_pairs", "vectors.similar_pairs")
        tr.wrap(tags, "nodes_by_tag", "tags.nodes_by_tag")
        tr.wrap(jobs, "jaccard_pairs", "tags.jaccard_pairs")
        tr.wrap(graph, "connected_components", "graph.connected_components")
        tr.wrap(aggregates, "shared_tags_per_cluster",
                "aggregates.shared_tags_per_cluster")
        tr.wrap(aggregates, "cluster_sizes", "aggregates.cluster_sizes")
        tr.wrap(jobs, "run_clustering", "jobs.run_clustering")
        tr.wrap(jobs, "relink_by_tags", "jobs.relink_by_tags")
        tr.wrap(pipeline, "run_pretraining_pipeline", "pipeline.run")
        for name in ("drop_exact_duplicates", "drop_near_duplicates",
                     "cross_split_contamination"):
            tr.wrap(dedup, name, f"dedup.{name}")
        tr.wrap(sampling, "three_way_split", "sampling.three_way_split")
        if self.workload == "batch":
            # the pipeline closes each stage with a count of its survivors
            tr.wrap(DataFrame, "count", "spark.count")

    def layer_extra(self) -> dict:
        """Layer values the run measured itself rather than from spans."""
        out = dict(self.extra)
        if self.save_stats:
            out["crud.save_bytes_written"] = med([b for b, _, _ in self.save_stats])
            out["crud.save_files_written"] = med([f for _, f, _ in self.save_stats])
            out["crud.bytes_written_per_live_byte"] = med(
                [b / lv for b, _, lv in self.save_stats])
        out["storage.bytes_written"] = self.attachment_bytes
        if self.workload == "batch":
            per_s = {"link_all_tags": "tag_relink_nodes_per_s",
                     "run_cluster_job": "cluster_job_nodes_per_s",
                     "clusters": "clusters_nodes_per_s",
                     "pipeline": "pipeline_docs_per_s"}
            for job, name in per_s.items():
                n = len_corpus(CORPUS) if job == "pipeline" else BATCH_NODES
                out[f"jobs.{name}"] = n / (med(self.batch_ms[job]) / 1000)
            out["vectors.similar_pairs_pairs_out"] = self.pairs_out.get("run_cluster_job", 0)
            out["tags.jaccard_pairs_out"] = self.pairs_out.get("link_all_tags", 0)
            for st, rows in self.pipeline_rows.items():
                out[f"pipeline.{st}_rows"] = rows
        return out


def _by_class(ops: list[tuple[str, float]]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for c, ms in ops:
        out.setdefault(c, []).append(ms)
    return out


def len_corpus(c: dict) -> int:
    return c["n_docs"] + c["n_low_quality"] + c["n_exact"] + c["n_near"] + c["n_leaks"]


def _get(api, eng, model: Model, nid: int):
    def check(r):
        check_node(r["node"], model.rows[nid])
        return 1
    return lambda: api.get_node(eng, nid), check


def _count_subject(api, eng, model: Model):
    subject = gen.SUBJECTS[0]

    def check(r):
        expect(r["count"] == len(model.match({"subject": subject})),
               "count after delete")
        return 1
    return (lambda: api.count_nodes(eng, {"subject": subject})), check


def _plan_nodes(df) -> int:
    return str(df._jdf.queryExecution().logical().treeString()).count("\n")


# ---------------------------------------------------------------------------
# batch checks
# ---------------------------------------------------------------------------

def check_link_all_tags(run: Run, state: dict, eng, resp) -> None:
    nodes = state["graph"]["nodes"]
    before = {int(i): set(ln) for i, ln in zip(nodes["id"], nodes["linked_nodes"])}
    after = {r["id"]: set(r["linked_nodes"] or []) for r in
             eng.nodes.select("id", "linked_nodes").collect()}
    expect(set(after) == set(before), "link_all_tags changed the node set")
    for a, ns in after.items():
        expect(before[a] <= ns, f"link_all_tags dropped links of {a}")
        for b in ns:
            expect(a in after[b], f"link {a}-{b} not symmetric")
    new = sum(len(after[a] - before[a]) for a in after) // 2
    expect(resp["linksCreated"] == new, "linksCreated differs from new links")
    tags = {int(i): set(t) for i, t in zip(nodes["id"], nodes["tags"])}
    rng = np.random.default_rng([run.seed, 5])
    for a in rng.choice(sorted(tags), 40, replace=False):
        a = int(a)
        want = {b for b, tb in tags.items() if b != a and tb and tags[a]
                and len(tags[a] & tb) / len(tags[a] | tb) >= TAG_THRESHOLD}
        expect(after[a] == before[a] | want, f"tag partners of {a}")


def check_cluster_job(run: Run, state: dict, eng, resp) -> None:
    g = state["graph"]
    got = sorted(tuple(c) for c in resp["clusters"])
    expect(got == sorted(tuple(c) for c in g["chains"]),
           "run_cluster_job did not recover the planted chains")
    st = resp["statistics"]
    p = g["params"]
    expect(st["linksCreated"] == p["n_chains"] * (p["chain_len"] - 1)
           and st["clustersFound"] == p["n_chains"]
           and st["nodesProcessed"] == p["n_nodes"], f"cluster statistics {st}")


def check_clusters(run: Run, state: dict, eng, resp) -> None:
    g = state["graph"]
    nodes = g["nodes"]
    tags = {int(i): list(t) for i, t in zip(nodes["id"], nodes["tags"])}
    in_chain = {i for c in g["chains"] for i in c}
    comps = [sorted(c) for c in g["chains"]] + \
        [[i] for i in sorted(tags) if i not in in_chain]
    comps.sort(key=lambda c: (-len(c), c[0]))
    want = []
    for rank, members in enumerate(comps, 1):
        counts: dict[str, int] = {}
        for i in members:
            for t in set(tags[i]):
                counts[t] = counts.get(t, 0) + 1
        shared = sorted(t for t, n in counts.items()
                        if len(members) == 1 or n >= 2)
        want.append({"id": rank, "nodes": members, "size": len(members),
                     "sharedTags": shared})
    expect(resp["count"] == len(want), f"clusters count {resp['count']}")
    expect(resp["clusters"] == want, "clusters report differs")


def check_pipeline(run: Run, state: dict, eng, resp) -> None:
    c = state["corpus"]
    want = gen.expected_stages(c["docs"], c["near_ids"])
    expect([(n, int(v)) for n, v in resp["stages"]] == want,
           f"pipeline stages {resp['stages']} != {want}")


BATCH_CHECKS = {"link_all_tags": check_link_all_tags,
                "run_cluster_job": check_cluster_job,
                "clusters": check_clusters,
                "pipeline": check_pipeline}



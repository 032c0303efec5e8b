"""The two workloads. Each returns its end-to-end figures; set-up, peak
memory and failure counts come from the :class:`harness.Run`.

build   build_triples_fast + parquet sink, warm runs back to back
serve   serve.make_server on loopback over a run dir that the autotag
        lifecycle (run_pipeline, fused linking) builds first; closed-loop
        searches (measured), then a tag + refresh with open-loop searches
        beside them (the write phase, checked and recorded)
"""

from __future__ import annotations

import json
import os
import queue
import threading
import time
import urllib.error
import urllib.request
from urllib.parse import urlencode

import numpy as np
import pyarrow.parquet as pq

import checks
from corpus import corpus_path
from harness import (SparkWindow, StealSampler, median, quantile, steal_s,
                     uncontended)

BUILD_CONVS = 12_000       # ~100k turns, ~420k triples
BUILD_WARMUP_RUNS = 2
SERVE_CONVS = 600          # ~5k turns, ~20k CDS rows

# the write phase sends searches at a fixed rate, about half the
# closed-loop capacity measured at local[4]; never re-derived, so a
# slower server shows as queueing rather than as a lighter load
SERVE_RATE_PER_S = 5.0
WRITE_PHASE_S = 3.0
WARMUP_SEARCHES_PER_CLIENT = 20


def _timed_loop(run, name: str, op, min_ops: int = 3):
    """Run ``op()`` back to back for ``run.seconds`` (at least ``min_ops``
    times). Returns (op seconds, gaps between ops in seconds, stolen CPU
    share during each op)."""
    walls, gaps, steal = [], [], []
    end = time.perf_counter() + run.seconds
    last = None
    while len(walls) < min_ops or time.perf_counter() < end:
        t0, st0 = time.perf_counter(), steal_s()
        if last is not None:
            gaps.append(t0 - last)
        with run.tracer.span(name, rid=str(len(walls))):
            op()
        last = time.perf_counter()
        walls.append(last - t0)
        steal.append((steal_s() - st0) / (run.cores * walls[-1]))
        run.check(True, name)
    return walls, gaps, steal


def build(run) -> dict:
    from otd_semantic_framework_spark.plans.pipeline import build_triples_fast
    path = corpus_path(os.path.join(run.out, "corpus"), run.seed, BUILD_CONVS)
    out = os.path.join(run.work, "triples")

    def load(spark):
        with run.tracer.span("storage.scan"):
            tr = spark.read.parquet(path)
            return tr, tr.count()

    tr, n_turns = run.set_up(load)
    spark = run.spark

    def op():
        with run.tracer.span("pipeline.build_triples_fast"):
            df = build_triples_fast(spark, tr)
        with run.tracer.span("storage.sink"):
            df.write.mode("overwrite").parquet(out)

    # JIT, codegen and Python workers warm up over the first few runs
    warm = []
    for _ in range(BUILD_WARMUP_RUNS):
        t0 = time.perf_counter()
        op()
        warm.append(time.perf_counter() - t0)
    win = SparkWindow(run) if run.tracer.enabled else None
    if win:
        win.open()
    walls, gaps, steal = _timed_loop(run, "op.build", op)
    layers = win.close(len(walls)) if win else {}
    triples = spark.read.parquet(out)
    n_triples = triples.count()
    checks.check_triples(run, pq.read_table(path).to_pandas(), triples)
    kept = uncontended(walls, steal)
    return {"op_s": kept, "gaps_s": gaps,
            "work_per_s": n_triples / median(kept), "layers": layers,
            "info": {"turns": n_turns, "triples": n_triples,
                     "ops_kept": f"{len(kept)}/{len(walls)}",
                     "warmup_runs_s": warm}}


class _Client:
    """Loopback HTTP client; each request is one attempted operation, and
    one that errs is a failed one."""

    def __init__(self, run, port: int):
        self.run = run
        self.base = f"http://127.0.0.1:{port}"

    def call(self, path: str, body: dict | None = None) -> dict | None:
        req = urllib.request.Request(
            self.base + path,
            data=None if body is None else json.dumps(body).encode(),
            headers={"Content-Type": "application/json"})
        try:
            with urllib.request.urlopen(req, timeout=120) as r:
                payload = json.loads(r.read())
        except (urllib.error.URLError, OSError, ValueError) as e:
            self.run.check(False, f"{path.split('?')[0]}: {e}")
            return None
        self.run.check(True, path)
        return payload


def _search_path(q: str, taxonomic: bool, top_n: int = 10) -> str:
    return "/api/v1/search?" + urlencode(
        {"q": q, "top_n": top_n, "taxonomic": int(taxonomic)})


def _open_loop(run, client, sched: list, search, lat: dict, late: list,
               refreshed: list) -> None:
    """Send ``sched`` [(due seconds, kind, arg)] from ``run.cores`` client
    threads, each request when due or as soon as a client is free; time
    every request from when it was due. A "tag" is followed, from the
    same client, by the refresh that must make it searchable; the
    refresh is timed from its own send."""
    work: queue.Queue = queue.Queue()
    for item in sched:
        work.put(item)
    lock = threading.Lock()
    start = time.perf_counter()

    def client_thread(k: int):
        while True:
            try:
                due, kind, arg = work.get_nowait()
            except queue.Empty:
                return
            due += start
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            with lock:
                late.append(time.perf_counter() - due)
                rid = f"{k}.{len(late)}"
            if kind == "search":
                ok = search(*arg, rid)
            else:
                with run.tracer.span("serve.http.tag", rid=rid):
                    ok = client.call("/api/v1/tag", {
                        "subj_key": arg[0], "concept_id": arg[1],
                        "weight": 1.0}) is not None
                with lock:
                    if ok:
                        lat["tag"].append(time.perf_counter() - due)
                kind, due = "refresh", time.perf_counter()
                with run.tracer.span("serve.http.refresh", rid=rid):
                    ok = client.call("/api/v1/refresh", {}) is not None
                if ok:
                    refreshed.append(arg)
            with lock:
                if ok:
                    lat[kind].append(time.perf_counter() - due)

    threads = [threading.Thread(target=client_thread, args=(k,))
               for k in range(run.cores)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def serve(run) -> dict:
    from otd_semantic_framework_spark.plans.pipeline import run_pipeline
    from otd_semantic_framework_spark.serve import make_server
    path = corpus_path(os.path.join(run.out, "corpus"), run.seed, SERVE_CONVS)
    run_dir = os.path.join(run.work, "run")
    rng = np.random.default_rng(run.seed)
    servers: list = []

    def prepare(spark):
        # the served run dir, made by the autotag lifecycle: input, untimed
        with run.tracer.span("pipeline.run_pipeline"):
            run_pipeline(spark, spark.read.parquet(path), run_dir,
                         fused_linking=True)

    def load(spark):
        if servers:
            servers[-1][0].shutdown()
            servers[-1][0].server_close()
            servers[-1][1].join(timeout=30)
        with run.tracer.span("serve.load"):
            httpd, svc = make_server(spark, run_dir)
        t = threading.Thread(target=httpd.serve_forever, daemon=True)
        t.start()
        servers.append((httpd, t))
        return httpd, svc

    httpd, svc = run.set_up(load, prepare)
    client = _Client(run, httpd.server_address[1])
    onto = svc.ontology_pdf
    labels = list(onto["pref_label"])
    # leaf concepts whose label is one mention (at most MAX_NGRAM words),
    # so a search for the label matches the tagged concept itself
    tag_concepts = [r.concept_id for r in onto.itertuples()
                    if r.depth == 3 and len(r.pref_label.split()) <= 2]
    vocab = ["delay", "timetable", "data", "near", "status", "report"]

    def query() -> tuple[str, bool]:
        q = f"{labels[rng.integers(len(labels))]} {vocab[rng.integers(len(vocab))]}"
        return q, bool(rng.integers(2))

    def search(q: str, tax: bool, rid: str) -> bool:
        with run.tracer.span("serve.http.search", rid=rid):
            return client.call(_search_path(q, tax)) is not None

    qs = [query() for _ in range(4000)]

    def closed_loop(seconds: float, per_client: int = 1 << 30):
        """One client per core, each sending its next search when the last
        returns. Returns the (start, end) of each search that succeeded."""
        lat: list[tuple[float, float]] = []
        lock = threading.Lock()
        t0 = time.perf_counter()

        def client_thread(k: int):
            first = k * len(qs) // run.cores
            for i in range(first, first + per_client):
                if time.perf_counter() - t0 >= seconds:
                    return
                s0 = time.perf_counter()
                if search(*qs[i % len(qs)], f"{k}.{i}"):
                    with lock:
                        lat.append((s0, time.perf_counter()))

        threads = [threading.Thread(target=client_thread, args=(k,))
                   for k in range(run.cores)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return lat

    # the search path (planning, codegen, JIT) keeps speeding up for
    # dozens of searches; measure it warm
    closed_loop(60.0, WARMUP_SEARCHES_PER_CLIENT)
    win = SparkWindow(run) if run.tracer.enabled else None
    if win:
        win.open()
    sampler = StealSampler(run.cores)
    spans = closed_loop(run.seconds)
    sampler.stop()
    layers = win.close(len(spans)) if win else {}
    lat = uncontended([e - s for s, e in spans],
                      [sampler.frac(s, e) for s, e in spans])
    qps = run.cores * len(lat) / sum(lat)   # closed loop: clients / mean latency

    # write phase: seeded Poisson arrivals of searches at a fixed rate
    # (open loop) beside one tag and the refresh that must make it
    # searchable; timed for the record, checked below
    t, sched = 0.0, [(0.0, "tag", (
        f"conv:perfbench-{run.seed}",
        tag_concepts[int(rng.integers(len(tag_concepts)))]))]
    while t < WRITE_PHASE_S:
        sched.append((t, "search", qs[int(rng.integers(len(qs)))]))
        t += rng.exponential(1.0 / SERVE_RATE_PER_S)
    lat_w = {"search": [], "tag": [], "refresh": []}
    late: list[float] = []
    refreshed: list[tuple[str, str]] = []
    _open_loop(run, client, sched, search, lat_w, late, refreshed)
    tag = sched[0][2]

    # correctness, untimed: the served run dir against the oracle (and a
    # resume recomputes nothing), probes against a pandas ranking of the
    # served CDS, and read-your-write for the refreshed tag
    res = run_pipeline(run.spark, run.spark.read.parquet(path), run_dir,
                       fused_linking=True)
    run.check(all(m.get("resumed") for m in res.metrics.values()),
              f"resume recomputed a stage: {res.metrics}")
    corpus = pq.read_table(path).to_pandas()
    checks.check_triples(run, corpus, res.triples, res.cds)
    cds = svc.cds.toPandas()
    for q, tax in [qs[0], qs[1], (labels[3], True), (labels[7], False)]:
        r = client.call(_search_path(q, tax))
        ref = checks.reference_search(q, cds, onto, svc.wup_pdf if tax else None)
        checks.check_search(run, (r or {}).get("results", []), ref, 10,
                            f"{q!r} taxonomic={tax}")
    run.check(tag in refreshed, "the tag was not refreshed")
    label = onto.set_index("concept_id").pref_label[tag[1]]
    r = client.call(_search_path(label, False, top_n=len(cds)))
    run.check(r is not None
              and any(h["subj_key"] == tag[0] for h in r["results"]),
              f"tagged subject {tag[0]} not found after refresh")

    servers[-1][0].shutdown()
    servers[-1][0].server_close()
    servers[-1][1].join(timeout=30)
    return {"op_s": lat, "gaps_s": late, "work_per_s": qps,
            "layers": layers,
            "info": {"cds_rows": svc.cds_rows,
                     "searches_kept": f"{len(lat)}/{len(spans)}",
                     "write_phase_search_p50_s": median(lat_w["search"]),
                     "write_phase_late_p95_s": quantile(late, 0.95),
                     "tag_s": lat_w["tag"], "refresh_s": lat_w["refresh"]}}


WORKLOADS = {"build": build, "serve": serve}

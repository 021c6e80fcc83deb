"""Closed-loop benchmark of the query engine.

    python3 perfbench/run.py --workload sql_interactive --seed 1 --seconds 25 --trace 0

One client on local[<cores>] issues registry queries one after another:
build the plan (`registry.load_all()[name].fn(spark, dir)`), then collect
it (`toPandas()`). The request sequence is drawn from the workload's pool
by the seed (perfbench/workloads.py). Every result is checked against the
registry's DuckDB oracle outside the timed region.

`--seconds` fixes the measured work: a run makes
ceil(seconds * per_second) requests (workloads.py), so a seed repeats the
same requests, micro-batches and input rows exactly.
With `--trace 0` the last stdout line carries the end-to-end metrics;
with `--trace 1` the per-layer metrics, and the spans and per-request
records are written to perfbench/.out/. Earlier stdout lines are a
readable report, including the failing requests with their errors.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from inputs import ROOT, fixture_dir, stream_dir  # noqa: E402
from probes import Jvm, ProcessTree, ScratchDirs, cached_storage, job_counts  # noqa: E402
from stats import failed_ratio, median, tail  # noqa: E402
from spans import Tracer, self_times  # noqa: E402
from workloads import WORKLOADS, Workload, sequence  # noqa: E402

WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")
PACKAGE = "aws_lambda_stream_processing_spark"

# Order of a micro-batch's phases in StreamingQueryProgress.durationMs,
# used to lay the phase spans out inside a batch span.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def family_of(spec) -> str:
    """Defining module of a registered query, relative to the package."""
    fn = next(c.cell_contents for c in spec.fn.__closure__ if callable(c.cell_contents))
    return fn.__module__.removeprefix(PACKAGE + ".")


class Run:
    def __init__(self, wl: Workload, seed: int, seconds: float, traced: bool,
                 run_dir: str) -> None:
        self.wl, self.seed, self.seconds, self.traced = wl, seed, seconds, traced
        self.run_dir = run_dir
        self.spark = None
        self.records: list[dict] = []
        self.tracer = Tracer()
        self.layer: dict[str, float] = {}

    # -- set-up -----------------------------------------------------------
    def setup(self) -> None:
        """Import the package, start the session, warm the table cache."""
        from aws_lambda_stream_processing_spark import registry, session, tables

        specs = registry.load_all()
        t0 = time.perf_counter()
        self.spark = session.get_spark()
        t1 = time.perf_counter()
        for name in tables.TABLES:
            tables.load_table(self.spark, self.sf_dir, name).count()
        t2 = time.perf_counter()
        self.layer["session.get_spark_s"] = t1 - t0
        self.layer["tables.warm_s"] = t2 - t1
        self.specs = specs

    # -- one request ------------------------------------------------------
    def request(self, i: int, name: str, probes) -> dict:
        spec = self.specs[name]
        rec = {"i": i, "name": name, "family": family_of(spec), "error": None, "mismatch": None}
        group = f"bench-req-{i}"
        if self.traced:
            self.spark.sparkContext.setJobGroup(group, name)
            cpu0, gc0 = probes.tree.cpu(), probes.jvm.gc_ms()
        shm0 = probes.scratch.snapshot()
        wall0 = time.time()
        t0 = time.perf_counter()
        t1 = None
        try:
            df = spec.fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            got = df.toPandas()
        except Exception as ex:  # noqa: BLE001 - a failing request is a result
            got, rec["error"] = None, f"{type(ex).__name__}: {ex}"[:400]
        t2 = time.perf_counter()
        # Everything below is outside the timed region.
        rec["latency_s"] = t2 - t0
        rec["build_s"] = (t1 or t2) - t0
        rec["collect_s"] = t2 - (t1 or t2)
        rec["wall0"] = wall0
        batches, runs = probes.streams.take() if probes.streams else ([], [])
        rec["batches"] = batches
        rec["scratch_leaked"] = probes.scratch.leaked(shm0)
        if self.traced:
            cpu1 = probes.tree.cpu()
            rec["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu1}
            rec["gc_ms"] = probes.jvm.gc_ms() - gc0
            rec.update(job_counts(self.spark, [group] + runs))
            self._spans(rec)
        if got is not None:
            c0 = time.perf_counter()
            rec["mismatch"] = probes.oracle.check(name, got)
            rec["check_s"] = time.perf_counter() - c0
        return rec

    def _spans(self, rec: dict) -> None:
        i, w0 = rec["i"], rec["wall0"]
        req = self.tracer.add("request", w0, w0 + rec["latency_s"], i, None)
        self.tracer.add("registry.build", w0, w0 + rec["build_s"], i, req)
        self.tracer.add("spark.collect", w0 + rec["build_s"], w0 + rec["latency_s"], i, req)
        for b in rec["batches"]:
            trig = b["ms"].get("triggerExecution", 0.0) / 1000
            parent = self.tracer.innermost(i, b["start"])
            sid = self.tracer.add("streaming.batch", b["start"], b["start"] + trig, i,
                                  req if parent is None else parent)
            t = b["start"]
            for ph in PHASES:
                d = b["ms"].get(ph, 0.0) / 1000
                if d > 0:
                    self.tracer.add(f"streaming.{ph}", t, t + d, i, sid)
                    t += d

    # -- the run ----------------------------------------------------------
    def execute(self) -> dict:
        self.sf_dir = (stream_dir(WORK, self.run_dir, self.seed) if self.wl.streaming
                       else fixture_dir(WORK))
        probes = argparse.Namespace(tree=ProcessTree(), scratch=ScratchDirs(), streams=None)
        try:
            s0 = time.perf_counter()
            self.setup()
            setup_s = time.perf_counter() - s0
            # Imported after set-up so that pyspark's import counts in setup_s.
            from listener import StreamCollector
            from oracle import Oracle

            pool = {n: f for n, s in self.specs.items() if self.wl.in_pool(f := family_of(s))}
            seq = sequence(pool, self.wl.requests(self.seconds), self.seed)
            probes.oracle = Oracle(self.sf_dir, {n: s.oracle for n, s in self.specs.items()})
            if self.wl.streaming:
                probes.streams = StreamCollector()
                self.spark.streams.addListener(probes.streams)
            if self.traced:
                probes.jvm = Jvm(self.spark)
                probes.jvm.reset_heap_peak()
                mb, parts = cached_storage(self.spark)
                self.layer["tables.cached_mb"] = mb
                self.layer["tables.cached_partitions"] = parts
            m0 = time.perf_counter()
            for i, name in enumerate(seq):
                self.records.append(self.request(i, name, probes))
            self.layer["measure_wall_s"] = time.perf_counter() - m0
            self.layer["peak_rss_mb"] = probes.tree.peak_rss_mb()
            if self.traced:
                self.layer["jvm.heap_peak_mb"] = probes.jvm.heap_peak_mb()
            probes.oracle.close()
            retained_mb = Jvm(self.spark).retained_mb() + probes.tree.worker_rss_mb()
        finally:
            d0 = time.perf_counter()
            self.shutdown(probes.tree)
            probes.scratch.close()
            self.layer["shutdown_s"] = time.perf_counter() - d0
        return self.summarize(setup_s, len(pool), retained_mb)

    def shutdown(self, tree) -> None:
        """Stop the session and the JVM, and wait for every process below."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        pids = [p for p, *_ in tree.descendants()]
        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        deadline = time.monotonic() + 20
        while pids and time.monotonic() < deadline:
            pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
            time.sleep(0.05)
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass

    # -- results ----------------------------------------------------------
    def summarize(self, setup_s: float, pool_n: int, retained_mb: float) -> dict:
        recs = self.records
        lat = [r["latency_s"] for r in recs]
        exc = sum(r["error"] is not None for r in recs)
        bad = sum(r["mismatch"] is not None for r in recs)
        tail_s, tail_pct, n = tail(lat)
        e2e = {
            "setup_s": setup_s,
            "requests_per_s": (len(recs) - exc - bad) / sum(lat),
            "request_p50_s": median(lat),
            "retained_mb": retained_mb,
        }
        batches = [b for r in recs for b in r["batches"]]
        trig = [b["ms"].get("triggerExecution", 0.0) for b in batches]
        stream_recs = [r for r in recs if r["batches"]]
        stream_wall = sum(r["latency_s"] for r in stream_recs)
        info = {
            "workload": self.wl.name, "seed": self.seed, "pool": pool_n,
            "requests": len(recs), "distinct": len({r["name"] for r in recs}),
            "exceptions": exc, "mismatches": bad,
            "failed_ratio": failed_ratio(exc, bad, len(recs)),
            "request_tail_s": tail_s, "request_tail_pct": tail_pct, "request_tail_n": n,
            "stream_events_per_s": sum(b["rows"] for b in batches) / stream_wall if stream_wall else 0.0,
            "microbatch_p50_ms": median(trig),
            "microbatch_tail_ms": tail(trig)[0] if len(trig) > 10 else 0.0,
            "microbatch_tail_pct": tail(trig)[1] if len(trig) > 10 else 0.0,
            "microbatches": len(trig),
            "measure_wall_s": self.layer["measure_wall_s"],
            "peak_rss_mb": self.layer["peak_rss_mb"],
            "check_s": sum(r.get("check_s", 0.0) for r in recs),
            "shutdown_s": self.layer["shutdown_s"],
            "failures": [
                {"i": r["i"], "name": r["name"], "error": r["error"] or r["mismatch"]}
                for r in recs if r["error"] or r["mismatch"]
            ],
        }
        out = {"e2e": e2e, "info": info}
        if self.traced:
            out["layer"] = self.layers(recs, batches, stream_recs, info)
        return out

    def layers(self, recs, batches, stream_recs, info) -> dict:
        from aws_lambda_stream_processing_spark.registry import REGISTRY

        n = len(recs)
        lat_total = sum(r["latency_s"] for r in recs)
        m = dict(self.layer)
        m["registry.build_p50_s"] = median([r["build_s"] for r in recs])
        m["registry.build_total_s"] = sum(r["build_s"] for r in recs)
        m["spark.collect_p50_s"] = median([r["collect_s"] for r in recs])
        m["spark.collect_total_s"] = sum(r["collect_s"] for r in recs)
        for k in ("jobs", "stages", "tasks", "tasks_failed"):
            m[f"spark.{k}"] = sum(r[k] for r in recs) / n
        for k in ("pyworker", "jvm", "driver"):
            m[f"cpu.{k}_s"] = sum(r["cpu"][k] for r in recs) / n
        m["cpu.busy_cores"] = sum(sum(r["cpu"].values()) for r in recs) / lat_total
        m["jvm.gc_ms"] = sum(r["gc_ms"] for r in recs) / n
        for fam in sorted({family_of(s) for s in REGISTRY.values()}):
            m[f"{fam}.busy_s"] = sum(r["latency_s"] for r in recs if r["family"] == fam)

        def per_batch(*phases):
            return sum(sum(b["ms"].get(p, 0.0) for p in phases) for b in batches) / max(1, len(batches))

        m["streaming.planning_ms"] = per_batch("queryPlanning")
        m["streaming.add_batch_ms"] = per_batch("addBatch")
        m["streaming.offset_ms"] = per_batch("latestOffset", "getBatch")
        m["streaming.checkpoint_ms"] = per_batch("walCommit", "commitOffsets")
        m["streaming.state_commit_ms"] = sum(b["state_commit_ms"] for b in batches) / max(1, len(batches))
        m["streaming.state_rows"] = max((b["state_rows"] for b in batches), default=0)
        m["streaming.state_mem_mb"] = max((b["state_bytes"] for b in batches), default=0) / 2**20
        m["streaming.overhead_s"] = sum(
            r["latency_s"] - sum(b["ms"].get("triggerExecution", 0.0) for b in r["batches"]) / 1000
            for r in stream_recs) / max(1, len(stream_recs))
        m["streaming.batches"] = len(batches)
        m["streaming.input_rows"] = sum(b["rows"] for b in batches)
        m["streaming.scratch_leaked"] = sum(r["scratch_leaked"] for r in recs)
        for k in ("request_tail_s", "failed_ratio", "stream_events_per_s", "microbatch_p50_ms",
                  "microbatch_tail_ms", "peak_rss_mb"):
            m[k] = info[k]
        return m


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="Closed-loop benchmark of the query engine.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # A terminated run still stops its JVM and removes its scratch dirs.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    spec = declared()
    # The engine's own settings for a benchmark session: local[<cores>]
    # and the cached-table posture bench.py also uses. Scratch written
    # through the temp dir and Spark's local dirs stays in the work dir.
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["ALSP_CACHE_TABLES"] = "1"
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    sys.path.insert(0, ROOT)

    run = Run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), run_dir)
    try:
        res = run.execute()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    info, e2e = res["info"], res["e2e"]
    for k, v in info.items():
        if k != "failures":
            print(f"{k} = {v}")
    for f in info["failures"]:
        print(f"FAILED request {f['i']} {f['name']}: {f['error']}")
    for k, v in e2e.items():
        print(f"{k} = {v}")
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"run_{args.workload}_{args.seed}_t{args.trace}"
                             f"_c{os.environ['SPARK_GRAFT_CPUS']}.json")
    record = {"info": info, "e2e": e2e, "requests": [
        {k: v for k, v in r.items() if k != "batches"} | {"batches": len(r["batches"])}
        for r in run.records]}
    if args.trace:
        record |= {"layer": res["layer"], "self_s": self_times(run.tracer.spans),
                   "spans": run.tracer.spans}
    with open(path, "w") as fh:
        json.dump(record, fh)
    print(f"run record written to {path}")
    if args.trace:
        metrics = {m["name"]: {"value": res["layer"][m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    failed = info["exceptions"] + info["mismatches"]
    print(json.dumps({"correct": failed == 0, "attempted": info["requests"],
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

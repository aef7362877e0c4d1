"""Crawl benchmark: times the engine the way a crawl operator drives it
and checks every timed job against the sequential oracle.

    python3 perfbench/run.py --workload crawl_html_polite --seed 1 \
        --seconds 20 --trace 0

One closed loop: a single driver process on local[nproc] runs one job
at a time, back to back, until --seconds have passed. The last line
of stdout is one JSON object {correct, attempted, failed, metrics}:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1 (Spark event log on, spans around each layer; see
perfbench/README.md). ``--smoke`` runs every workload once, on tiny
inputs, with its checks.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import threading
import time
import traceback

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402

HEAP = "2g"


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def setup_env() -> None:
    """Size the session from outside (plans.session reads these) and
    keep every file the run writes inside the checkout."""
    for d in ("tmp", "spark-local", "kernels", "warehouse", "events",
              "run"):
        os.makedirs(os.path.join(W.WORK, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(W.WORK, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(W.WORK, "spark-local")
    os.environ["SPARK_GRAFT_KERNEL_CACHE"] = os.path.join(W.WORK, "kernels")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    # every JVM (the spark-submit launcher too): temp files in the
    # checkout, no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    sys.path.insert(0, ROOT)


def start_spark(event_log: str | None = None):
    from crawler_spark.plans.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(W.WORK, "warehouse")}
    if event_log:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    n = cores()
    return get_spark("perfbench", cores=n, shuffle_partitions=n,
                     extra_conf=conf)


def stop_spark(spark, keep_jvm: bool = False) -> None:
    """Stop the session; unless ``keep_jvm``, also end the gateway JVM
    (and with it the Python workers) and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    if keep_jvm:
        return
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class RssSampler:
    """Peak memory of this process and all its descendants (the JVM
    and the Python workers), sampled from /proc. Each process counts
    its proportional set size, so pages the forked Python workers share
    are counted once, not once per worker."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree_pss_kb() -> int:
        me = os.getpid()
        parent = {}
        for p in os.listdir("/proc"):
            if p.isdigit():
                try:
                    with open(f"/proc/{p}/stat") as f:
                        parent[int(p)] = int(
                            f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        total = 0
        for pid in parent:
            q = pid
            while q and q != me:
                q = parent.get(q, 0)
            if q != me:
                continue
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_pss_kb())
            self._stop.wait(self.period)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self.peak_kb = max(self.peak_kb, self._tree_pss_kb())


# ---------------------------------------------------------------------------


class Workload:
    """Set-up, one timed job, and its check, for one workload."""

    def __init__(self, name: str, spec, seed: int):
        self.name, self.spec, self.seed = name, spec, seed
        self.crawl = isinstance(spec, W.CrawlSpec)
        self.run_dir = os.path.join(W.WORK, "run", name)

    def prepare(self) -> None:
        """Inputs and oracle digests: the benchmark's own set-up."""
        import shutil
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        if self.crawl:
            spec = self.spec
            self.oracle_dir, self.web = W.html_web(
                spec.pages, spec.hosts, spec.n_seeds, self.seed)
            self.oracle = W.crawl_oracle(spec, self.oracle_dir)
            log(f"{self.name}: oracle visits {self.oracle['visits']}")
        else:
            self.docs = W.corpus_inputs(self.seed)
            self.warm_docs = W.corpus_inputs(self.seed, rows=W.WARM_ROWS)
            W.keep_cc_in(os.path.join(self.run_dir, "cc"))

    def setup(self, spark, warm: bool = True) -> None:
        """Program set-up: caches from scratch and a warm-up job."""
        self.spark = spark
        self.cache = os.path.join(self.run_dir, "cache")
        if not warm:
            return
        if self.crawl:
            # the warm-up's first engine builds the bucketed web and
            # image caches the timed jobs reuse
            W.run_crawl_job(spark, self.spec.warm(), self.web,
                            os.path.join(self.run_dir, "ck-warm"),
                            self.cache, W.tracing_off)
        else:
            W.run_corpus_job(spark, self.warm_docs,
                             os.path.join(self.run_dir, "out-warm"),
                             W.tracing_off)

    def job(self, tracer) -> dict:
        if self.crawl:
            return W.run_crawl_job(self.spark, self.spec, self.web,
                                   os.path.join(self.run_dir, "ck"),
                                   self.cache, tracer)
        return W.run_corpus_job(self.spark, self.docs,
                                os.path.join(self.run_dir, "out"), tracer)

    def check(self, job: dict) -> list[str]:
        if self.crawl:
            return W.check_crawl(job, self.oracle)
        return W.check_corpus(job)

    def items(self) -> int:
        return (self.oracle["visits"] if self.crawl
                else W.CORPUS_EXPECTED["docs_in"])


def measure(wl: Workload, seconds: float, tracer) -> tuple[list, int, int]:
    """Closed loop: jobs back to back until ``seconds`` have passed (a
    job is not started when less than half a median job is left).
    Each job is checked after its timed interval. Returns (finished
    jobs, attempted, failed)."""
    jobs, attempted, failed = [], 0, 0
    t_end = time.perf_counter() + seconds
    while True:
        attempted += 1
        try:
            job = wl.job(tracer)
            errs = wl.check(job)
        except Exception:  # a job that raises counts as failed
            log(f"{wl.name}: job raised\n{traceback.format_exc()}")
            failed += 1
        else:
            if errs:
                failed += 1
                log(f"{wl.name}: check failed: {'; '.join(errs)}")
            job.pop("eng", None)
            job.pop("visits", None)
            jobs.append(job)
            log(f"{wl.name}: job {len(jobs)} {job['job_s']:.3f} s")
        left = t_end - time.perf_counter()
        done = [j["job_s"] for j in jobs]
        if left <= 0 or (done and left < 0.5 * statistics.median(done)):
            break
    return jobs, attempted, failed


def end_to_end(wl: Workload, jobs: list, setup_s: float,
               peak_kb: int) -> dict:
    job_s = statistics.median(j["job_s"] for j in jobs)
    if wl.crawl:
        rounds = [r["wall_sec"] for j in jobs for r in j["rounds"]]
    else:
        rounds = [j["job_s"] for j in jobs]   # one batch per job
    vals = {
        "setup_s": (setup_s, "s"),
        "job_s": (job_s, "s"),
        "items_per_s": (wl.items() / job_s, "1/s"),
        "round_p50_s": (statistics.median(rounds), "s"),
        "peak_rss_mb": (peak_kb / 1024.0, "MB"),
        "state_mb": (statistics.median(j["state_mb"] for j in jobs), "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}


def result_line(attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({"correct": attempted > 0 and failed == 0,
                       "attempted": attempted, "failed": failed,
                       "metrics": metrics})


def run(name: str, seed: int, seconds: float, trace: bool,
        smoke: bool = False) -> dict:
    spec = (W.SMOKE if smoke else W.WORKLOADS)[name]
    wl = Workload(name, spec, seed)
    t0 = time.time()
    wl.prepare()
    own_setup = time.time() - t0
    log(f"{name}: inputs and oracle {own_setup:.2f} s (not in setup_s)")
    spark = start_spark()
    log(f"{name}: session up at {time.time() - T_START - own_setup:.2f} s")
    wl.setup(spark, warm=not smoke)
    setup_s = time.time() - T_START - own_setup
    log(f"{name}: setup_s {setup_s:.3f}")
    if not trace:
        with RssSampler() as rss:
            jobs, attempted, failed = measure(wl, seconds, W.tracing_off)
        stop_spark(spark)
        return {"attempted": attempted, "failed": failed,
                "metrics": end_to_end(wl, jobs, setup_s, rss.peak_kb)
                if jobs else {}}
    return traced_run(wl, seconds, spark)


def traced_run(wl: Workload, seconds: float, spark) -> dict:
    """Half the time untraced, then the Spark session restarted (same
    JVM) with the event log on and spans around each layer, and the
    other half traced. Reports the per-layer metrics and the tracing
    overhead (traced minus untraced median job_s)."""
    import shutil

    import layers
    import tracing

    untraced, att_u, fail_u = measure(wl, seconds / 2, W.tracing_off)
    stop_spark(spark, keep_jvm=True)
    ev_dir = os.path.join(W.WORK, "events", wl.name)
    shutil.rmtree(ev_dir, ignore_errors=True)
    os.makedirs(ev_dir)
    wl.spark = spark = start_spark(event_log=ev_dir)
    tracer = tracing.Tracer(spark, enabled=True)
    undo = layers.install_wrappers(tracer)
    try:
        traced, att_t, fail_t = measure(wl, seconds / 2, tracer)
    finally:
        for u in reversed(undo):
            u()
    stop_spark(spark)
    out = {"attempted": att_u + att_t, "failed": fail_u + fail_t,
           "metrics": {}}
    if not (traced and untraced):
        return out
    med, table = layers.per_layer(wl, traced, tracer.spans, ev_dir, cores())
    t_job = statistics.median(j["job_s"] for j in traced)
    u_job = statistics.median(j["job_s"] for j in untraced)
    med.update({"trace.job_s": t_job, "trace.untraced_job_s": u_job,
                "trace.overhead_s": t_job - u_job})
    out["metrics"] = {k: {"value": v, "unit": layers.UNITS[k]}
                      for k, v in med.items()}
    with open(os.path.join(ev_dir, "spans.json"), "w") as f:
        json.dump(table, f, indent=1)
    log(f"{wl.name}: per-span breakdown in {ev_dir}/spans.json")
    roots = {j["root"]["id"] for j in traced}
    for row in table:
        if row["id"] in roots or row["parent"] in roots:
            log(f"  {row['name']:<24} wall {row['wall_s']:8.3f} s  "
                f"self {row['self_s']:8.3f} s  task {row['task_s']:8.3f} s")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once on tiny inputs")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "crawler_spark")):
        print("perfbench: crawler_spark not found next to perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    setup_env()
    if args.smoke:
        ok = True
        for name in sorted(W.SMOKE):
            out = run(name, args.seed, 0, trace=False, smoke=True)
            ok &= out["failed"] == 0 and out["attempted"] > 0
            print(json.dumps({"workload": name, "attempted": out["attempted"],
                              "failed": out["failed"]}))
        return 0 if ok else 1
    if not args.workload:
        ap.error("--workload is required")
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(result_line(out["attempted"], out["failed"], out["metrics"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Per-layer metrics of a traced run: the spans that wrap each
layer's entry points, and the reduction of spans plus Spark's event
log to one value per metric (the median over the traced jobs)."""

from __future__ import annotations

import json
import statistics

import tracing as T

UDF_TIME = "time to run Python workers"

# per-layer metric -> unit; every workload reports every name (0 where
# a layer does not run)
UNITS = {
    "frontier.ctor_s": "s", "frontier.explore_s": "s", "frontier.rounds":
    "count", "frontier.select_s": "s", "frontier.fetch_extract_s": "s",
    "frontier.images_s": "s", "frontier.admit_s": "s",
    "frontier.round_other_s": "s", "frontier.round_p75_s": "s",
    "frontier.resume_s": "s", "frontier.scheduled": "count",
    "frontier.fetched": "count", "frontier.edges": "count",
    "frontier.useful_ratio": "ratio", "frontier.frozen": "count",
    "frontier.popped": "count", "frontier.edge_skew": "ratio",
    "html.pages": "count", "html.parse_python_s": "s",
    "images.new": "count", "images.invalid": "count",
    "images.per_s": "1/s", "images.decode_python_s": "s",
    "resolve.s": "s", "resolve.nodes_write_s": "s",
    "resolve.skeleton_write_s": "s", "resolve.skeleton_read_s": "s",
    "resolve.seed_collect_s": "s", "resolve.claims_write_s": "s",
    "resolve.claims_rejoin_s": "s", "resolve.visits_job_s": "s",
    "dfs_kernel.sweep_s": "s", "dfs_kernel.csr_s": "s",
    "dfs_kernel.emit_s": "s", "dfs_kernel.edges": "count",
    "tables.commits": "count", "tables.commit_s": "s", "tables.read_s": "s",
    "corpus.minhash_dedup_s": "s", "corpus.embedding_dedup_s": "s",
    "corpus.cc_s": "s", "corpus.other_s": "s",
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.task_s": "s", "spark.cpu_s": "s",
    "spark.gc_s": "s", "spark.busy_frac": "ratio",
    "spark.driver_only_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "trace.job_s": "s", "trace.untraced_job_s": "s",
    "trace.overhead_s": "s", "trace.top_coverage": "ratio",
}


def install_wrappers(tracer: T.Tracer) -> list:
    """Spans around each layer's entry points. Modules are patched at
    attribute level: the engine and the corpus job import these names
    at call time, so the patched versions are the ones they call."""
    from crawler_spark.core import dfs_kernel
    from crawler_spark.operators import cluster
    from crawler_spark.sources.tables import SnapshotTable

    undo = [tracer.wrap(dfs_kernel, "csr_runlength", "dfs_kernel.csr"),
            tracer.wrap(dfs_kernel, "emit_prios", "dfs_kernel.emit")]
    orig_sweep = dfs_kernel.sweep

    def sweep(c_sorted, *args, **kwargs):
        with tracer.span("dfs_kernel.sweep", edges=len(c_sorted)):
            return orig_sweep(c_sorted, *args, **kwargs)

    dfs_kernel.sweep = sweep
    undo.append(lambda: setattr(dfs_kernel, "sweep", orig_sweep))
    for attr in ("commit_dir", "commit_marker"):
        undo.append(tracer.wrap(SnapshotTable, attr, "tables.commit"))
    for attr in ("read", "lineage"):
        undo.append(tracer.wrap(SnapshotTable, attr, "tables.read"))
    for attr, name in (("minhash_dedup", "corpus.minhash_dedup"),
                       ("embedding_dedup", "corpus.embedding_dedup"),
                       ("connected_components", "corpus.cc")):
        undo.append(tracer.wrap(cluster, attr, name))
    return undo


def _descendants(spans: list[dict], root: int) -> list[dict]:
    out, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        kids = [s for s in spans if s["parent"] == pid]
        out += kids
        frontier += [k["id"] for k in kids]
    return out


def _sum_wall(spans, name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def _outermost(spans: list[dict], name: str) -> list[dict]:
    """Spans called ``name`` that have no ancestor of the same name
    (the tables wrappers can nest: lineage() inside read())."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if s["name"] != name:
            continue
        p = s["parent"]
        while p is not None and p in by_id and by_id[p]["name"] != name:
            p = by_id[p]["parent"]
        if p is None or p not in by_id:
            out.append(s)
    return out


def udf_accumulators(log_path: str) -> dict[str, set]:
    """Accumulator ids of the Python-UDF run-time metric, split by the
    UDF the plan node runs: the HTML parse (``parse_pages``'s
    ``batches``) and the image decode (``_ingest_images``'s ``dec``)."""
    ids = {"html": set(), "images": set()}

    def walk(node):
        simple = node.get("simpleString", "")
        kind = ("html" if "batches(" in simple
                else "images" if "dec(" in simple else None)
        if kind and node.get("nodeName", "").startswith("MapInPandas"):
            for m in node.get("metrics", []):
                if m.get("name") == UDF_TIME:
                    ids[kind].add((m["accumulatorId"], m.get("metricType")))
        for c in node.get("children", []):
            walk(c)

    with open(log_path) as f:
        for line in f:
            if '"sparkPlanInfo"' in line:
                walk(json.loads(line)["sparkPlanInfo"])
    return ids


def udf_seconds(log_path: str, root_of_job: dict,
                ids: dict[str, set]) -> dict:
    """{(root span, kind): seconds} of Python-UDF run time."""
    scale = {}
    for kind, pairs in ids.items():
        for acc, mtype in pairs:
            scale[acc] = (kind, 1e-9 if mtype == "nsTiming" else 1e-3)
    stage_job = {}
    out: dict = {}
    with open(log_path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                for st in ev.get("Stage IDs", []):
                    stage_job[st] = ev["Job ID"]
            elif kind == "SparkListenerTaskEnd":
                root = root_of_job.get(stage_job.get(ev["Stage ID"]))
                if root is None:
                    continue
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    hit = scale.get(acc.get("ID"))
                    if hit:
                        key = (root, hit[0])
                        out[key] = out.get(key, 0.0) + float(
                            acc.get("Update", 0)) * hit[1]
    return out


def job_layers(wl, job: dict, spans: list[dict], sm: dict,
               udf: dict) -> dict:
    """Per-layer metrics of one traced job."""
    root = job["root"]["id"]
    inner = _descendants(spans, root)
    job_s = job["job_s"]
    m = {k: 0.0 for k in UNITS}
    m.update({f"spark.{k}": v for k, v in sm.items()})
    kids = [(s["start"], s["end"]) for s in spans if s["parent"] == root]
    r = spans[root]
    m["trace.top_coverage"] = (T.union_len(kids, r["start"], r["end"])
                               / (r["end"] - r["start"]))
    commits = _outermost(inner, "tables.commit")
    m["tables.commits"] = len(commits)
    m["tables.commit_s"] = sum(s["end"] - s["start"] for s in commits)
    m["tables.read_s"] = sum(s["end"] - s["start"]
                             for s in _outermost(inner, "tables.read"))
    m["dfs_kernel.sweep_s"] = _sum_wall(inner, "dfs_kernel.sweep")
    m["dfs_kernel.csr_s"] = _sum_wall(inner, "dfs_kernel.csr")
    m["dfs_kernel.emit_s"] = _sum_wall(inner, "dfs_kernel.emit")
    m["dfs_kernel.edges"] = sum(s.get("edges", 0) for s in inner
                                if s["name"] == "dfs_kernel.sweep")
    m["html.parse_python_s"] = udf.get((root, "html"), 0.0)
    m["images.decode_python_s"] = udf.get((root, "images"), 0.0)
    if not wl.crawl:
        cc = _sum_wall(inner, "corpus.cc")
        mh = sum(T.self_time(spans, s["id"]) for s in inner
                 if s["name"] == "corpus.minhash_dedup")
        em = sum(T.self_time(spans, s["id"]) for s in inner
                 if s["name"] == "corpus.embedding_dedup")
        m.update({"corpus.cc_s": cc, "corpus.minhash_dedup_s": mh,
                  "corpus.embedding_dedup_s": em,
                  "corpus.other_s": job_s - cc - mh - em})
        return m
    rounds = job["rounds"]
    steps = [r["steps"] for r in rounds]
    walls = [r["wall_sec"] for r in rounds]
    m.update({
        "frontier.ctor_s": _sum_wall(inner, "frontier.ctor"),
        "frontier.explore_s": _sum_wall(inner, "frontier.explore"),
        "frontier.rounds": len(rounds),
        "frontier.resume_s": job["resume_s"],
        "resolve.s": _sum_wall(inner, "frontier.resolve"),
        "resolve.visits_job_s": _sum_wall(inner, "frontier.visits_count"),
    })
    for step in ("select", "fetch_extract", "images", "admit"):
        m[f"frontier.{step}_s"] = sum(s.get(step, 0.0) for s in steps)
    m["frontier.round_other_s"] = sum(w - sum(v for v in s.values())
                                      for w, s in zip(walls, steps))
    if len(walls) >= 4:
        m["frontier.round_p75_s"] = statistics.quantiles(walls, n=4)[2]
    for k in ("scheduled", "fetched", "edges", "frozen", "popped"):
        m[f"frontier.{k}"] = sum(r.get(k, 0) for r in rounds)
    m["frontier.useful_ratio"] = (wl.items() / m["frontier.scheduled"]
                                  if m["frontier.scheduled"] else 0.0)
    widest = max(rounds, key=lambda r: r.get("edges", 0))
    parts = [n for _, n in widest.get("partitions", [])]
    if parts and sum(parts):
        m["frontier.edge_skew"] = max(parts) / (sum(parts) / len(parts))
    m["html.pages"] = m["frontier.fetched"]
    m["images.new"] = sum(r.get("images_new", 0) for r in rounds)
    m["images.invalid"] = sum(r.get("images_invalid", 0) for r in rounds)
    if m["frontier.images_s"]:
        m["images.per_s"] = m["images.new"] / m["frontier.images_s"]
    for k in ("nodes_write", "skeleton_write", "skeleton_read",
              "seed_collect", "claims_write", "claims_rejoin"):
        m[f"resolve.{k}_s"] = float(job["timings"].get(k, 0.0))
    return m


def per_layer(wl, traced: list, spans: list[dict], ev_dir: str,
              cores: int) -> tuple[dict, list[dict]]:
    """Medians over the traced jobs of every per-layer metric (the
    ``trace.*`` overhead figures are the caller's), and the per-span
    table, from the spans and the event log in ``ev_dir``."""
    log_path = T.find_event_log(ev_dir)
    log = T.read_event_log(log_path)
    roots = [j["root"]["id"] for j in traced]
    sm = T.spark_metrics(spans, log, roots, cores)
    root_of_job = {jid: T.root_of(spans, j["span"], set(roots))
                   for jid, j in log["jobs"].items()}
    udf = udf_seconds(log_path, root_of_job, udf_accumulators(log_path))
    per_job = [job_layers(wl, j, spans, sm[j["root"]["id"]], udf)
               for j in traced]
    med = {k: statistics.median(p[k] for p in per_job) for k in UNITS}
    return med, T.span_table(spans, log)

"""Workload definitions: seeded inputs (cached under the work dir),
oracle digests, the timed job of each workload, and the correctness
check that runs after each job, outside its timed interval."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, replace

from tracing import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
DATA = os.path.join(HERE, "data")

# corpus_dedup invariants of the bundled corpus (perfbench/data: the
# 5,000-document / 2,000-vector synthetic corpus); row order must not
# change any of them
CORPUS_EXPECTED = {"docs_in": 5000, "docs_after_exact": 4992,
                   "docs_canonical": 4756, "vecs_in": 2000,
                   "vecs_canonical": 1087}
CORPUS_COSINE = 0.4

tracing_off = Tracer()


# the warm-up crawls the timed web to this depth (round 0 and the
# resume only), and the corpus warm-up runs on this many rows
WARM_DEPTH = 0
WARM_ROWS = 1000
WEB_BUCKETS = 8


@dataclass(frozen=True)
class CrawlSpec:
    """The crawl workload: a seeded bench web of ``pages`` pages over
    ``hosts`` hosts with ``n_seeds`` seed URLs, rendered to raw HTML,
    crawled with politeness (``rate_limit`` fetches per host per
    round), in-loop image ingest, and a mid-crawl resume after
    ``resume_at`` rounds."""
    pages: int
    hosts: int
    max_depth: int
    rate_limit: int
    resume_at: int
    n_seeds: int

    def warm(self) -> "CrawlSpec":
        return replace(self, max_depth=WARM_DEPTH, resume_at=WARM_DEPTH)


@dataclass(frozen=True)
class CorpusSpec:
    """run_corpus over the bundled corpus (no parameters)."""


WORKLOADS = {
    "crawl_html_polite": CrawlSpec(pages=6000, hosts=600, max_depth=2,
                                   rate_limit=150, resume_at=1,
                                   n_seeds=192),
    "corpus_dedup": CorpusSpec(),
}
SMOKE = {
    "crawl_html_polite": CrawlSpec(pages=300, hosts=50, max_depth=2,
                                   rate_limit=12, resume_at=1, n_seeds=16),
    "corpus_dedup": CorpusSpec(),
}


def crawl_config(spec: CrawlSpec):
    from crawler_spark.engine.config import CrawlConfig
    return CrawlConfig(max_depth=spec.max_depth, rate_limit=spec.rate_limit,
                       batch_window_ms=1000)


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def _input_dir(gen: str, params: dict, seed: int) -> str:
    key = "-".join(f"{k}{v}" for k, v in sorted(params.items()))
    return os.path.join(WORK, "inputs", f"{gen}-{key}-s{seed}")


def _cached(path: str, build) -> str:
    """Build ``path`` once: a `.done` marker is written last, so an
    interrupted build is redone instead of read half-written."""
    if not os.path.exists(os.path.join(path, ".done")):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        build(path)
        open(os.path.join(path, ".done"), "w").close()
    return path


def _renderable(row: dict) -> dict:
    """A bench-web row with the link provenance fields the HTML
    renderer writes (class, label, position); the crawl reads only
    href, element type and document order, which stay as generated."""
    return dict(row, links=[
        dict(ln, selector="a.nav", label=f"link {ln['link_index']}",
             pos_x=0, pos_y=0) for ln in row["links"]])


def html_web(pages: int, hosts: int, n_seeds: int,
             seed: int) -> tuple[str, str]:
    """(struct dir, raw-HTML dir) of one seeded web. The struct dir is
    the ``sources.synth_web`` bench web (one mega-host with ~30% of the
    pages, ~85% same-host links, an image dim with real encoded bytes);
    the oracle reads it. The engine crawls the HTML rendering of the
    same pages (the shape ``sources.fixtures.write_html_web``
    produces), parsing markup in its fetch path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from crawler_spark.sources.fixtures import render_page_html
    from crawler_spark.sources.synth_web import generate_bench_web

    params = dict(p=pages, h=hosts, n=n_seeds)
    sdir = _cached(_input_dir("synth", params, seed),
                   lambda d: generate_bench_web(d, pages, n_hosts=hosts,
                                                seed=seed, n_seeds=n_seeds))

    def build(d):
        web = pq.read_table(os.path.join(sdir, "web_pages.parquet"))
        html = [None if r["status_code"] == 0 or r["title"] is None
                else render_page_html(_renderable(r))
                for r in web.to_pylist()]
        pq.write_table(pa.table({
            "url": web["url"], "host": web["host"],
            "status_code": web["status_code"],
            "html": pa.array(html, pa.string()),
            "load_time_ms": web["load_time_ms"]}),
            os.path.join(d, "web_pages.parquet"))
        for f in ("seeds.parquet", "robots.parquet"):
            shutil.copy(os.path.join(sdir, f), os.path.join(d, f))
        shutil.copytree(os.path.join(sdir, "images.parquet"),
                        os.path.join(d, "images.parquet"))

    return sdir, _cached(_input_dir("html", params, seed), build)


def corpus_inputs(seed: int, rows: int | None = None) -> str:
    """The bundled corpus with its rows permuted by the seed (and cut
    to ``rows`` documents / vectors for the warm-up)."""
    import numpy as np
    import pyarrow.parquet as pq

    def build(d):
        rng = np.random.default_rng(seed)
        for name in ("documents", "embeddings"):
            t = pq.read_table(os.path.join(DATA, f"{name}.parquet"))
            t = t.take(rng.permutation(t.num_rows))
            if rows:
                t = t.slice(0, rows)
            pq.write_table(t, os.path.join(d, f"{name}.parquet"))

    return _cached(_input_dir("corpus", dict(r=rows or 0), seed), build)


# ---------------------------------------------------------------------------
# oracle digests
# ---------------------------------------------------------------------------

VISIT_COLS = ("visit_rank", "url", "url_hash", "host", "depth",
              "parent_url", "link_index", "prio", "status_code", "batch_id")


def digest(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(json.dumps(list(r)).encode())
        h.update(b"\n")
    return h.hexdigest()


def caption_rows_oracle(result) -> list[tuple]:
    """First-visit caption attribution per image src, in src order."""
    rank_of = {v.url: v.rank for v in result.visits}
    first: dict[str, tuple] = {}
    for im in result.images:          # appended in DFS visit order
        first.setdefault(im["src"], (im["caption"],
                                     rank_of[im["page_url"]]))
    return sorted((s, c, r) for s, (c, r) in first.items())


def crawl_oracle(spec: CrawlSpec, oracle_dir: str) -> dict:
    """Visit count + digest, image count + caption-attribution digest,
    computed once per web and config by the sequential simulator."""
    from crawler_spark.oracle.simulator import run_oracle

    cfg = crawl_config(spec)
    key = hashlib.sha1(json.dumps(cfg.manifest(), sort_keys=True)
                       .encode()).hexdigest()[:12]
    path = os.path.join(oracle_dir, f"oracle-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    res = run_oracle(oracle_dir, cfg)
    out = {"visits": len(res.visits),
           "digest": digest((v.rank, v.url, v.url_hash, v.host, v.depth,
                             v.parent_url, v.link_index, v.prio,
                             v.status_code, v.batch_id)
                            for v in res.visits)}
    caps = caption_rows_oracle(res)
    out["images"] = len(caps)
    out["captions_digest"] = digest(caps)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


# ---------------------------------------------------------------------------
# jobs and checks
# ---------------------------------------------------------------------------

def make_engine(spark, spec: CrawlSpec, web: str, ckpt: str, cache: str):
    """Engine construction as a crawl operator would write it: the
    bucketed web (and image dim) caches live in ``cache``."""
    from crawler_spark.engine.frontier import FrontierEngine

    return FrontierEngine(
        spark, crawl_config(spec), web, ckpt,
        enforce_politeness=True,
        bucketed_web_dir=os.path.join(cache, "web-bucketed"),
        web_buckets=WEB_BUCKETS, ingest_images=True,
        bucketed_images_dir=os.path.join(cache, "img-bucketed"))


def dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            fp = os.path.join(base, f)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total / 2**20


def run_crawl_job(spark, spec: CrawlSpec, web: str, ckpt: str, cache: str,
                  tracer) -> dict:
    """One timed crawl: fresh checkpoint → engine → explore ``resume_at``
    rounds → a fresh engine reopens the checkpoint and commits one more
    round → explore to the end → resolve → visits count. Returns the
    timings and the live engine + visits frame for the check."""
    shutil.rmtree(ckpt, ignore_errors=True)
    t0 = time.perf_counter()
    with tracer.span("job") as root:
        os.makedirs(ckpt)
        with tracer.span("frontier.ctor"):
            eng = make_engine(spark, spec, web, ckpt, cache)
        with tracer.span("frontier.explore"):
            eng.explore(max_rounds=spec.resume_at)
        t_r = time.perf_counter()
        with tracer.span("frontier.resume"):
            with tracer.span("frontier.ctor"):
                eng = make_engine(spark, spec, web, ckpt, cache)
            with tracer.span("frontier.explore"):
                eng.explore(max_rounds=spec.resume_at + 1)
        resume_s = time.perf_counter() - t_r
        with tracer.span("frontier.explore"):
            eng.explore()
        with tracer.span("frontier.resolve"):
            visits = eng.resolve()
        with tracer.span("frontier.visits_count"):
            n = visits.count()
    job_s = time.perf_counter() - t0
    with open(os.path.join(ckpt, "metrics.jsonl")) as f:
        rounds = [json.loads(line) for line in f]
    return {"job_s": job_s, "resume_s": resume_s, "count": n,
            "rounds": rounds, "timings": dict(eng.timings),
            "state_mb": dir_mb(ckpt), "root": root,
            "eng": eng, "visits": visits}


def check_crawl(job: dict, oracle: dict) -> list[str]:
    """Compare a finished crawl with the oracle. Returns the list of
    mismatches (empty when correct)."""
    # pinned once: the three reads below would each re-run the visits
    # assembly
    eng, visits = job["eng"], job["visits"].localCheckpoint()
    rows = [tuple(r[c] for c in VISIT_COLS) for r in
            visits.orderBy("visit_rank").collect()]
    errs = check_visits(rows, job["count"], oracle)
    invalid = sum(m.get("images_invalid", 0) for m in job["rounds"])
    if invalid:
        errs.append(f"images.invalid = {invalid}")
    n_img = eng.images(visits).count()
    if n_img != oracle["images"]:
        errs.append(f"images {n_img} != oracle {oracle['images']}")
    caps = sorted((r["src"], r["caption"], r["first_visit_rank"])
                  for r in eng.image_captions(visits).collect())
    if digest(caps) != oracle["captions_digest"]:
        errs.append("caption attribution differs from the oracle")
    return errs


def check_visits(rows: list[tuple], count: int, oracle: dict) -> list[str]:
    errs = []
    if count != oracle["visits"] or len(rows) != oracle["visits"]:
        errs.append(f"visits {count}/{len(rows)} != oracle "
                    f"{oracle['visits']}")
    if digest(rows) != oracle["digest"]:
        errs.append("visit digest differs from the oracle")
    return errs


def run_corpus_job(spark, docs_dir: str, out: str, tracer) -> dict:
    from jobs.corpus_job import run_corpus

    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    with tracer.span("job") as root:
        with tracer.span("corpus.run"):
            stats = run_corpus(
                spark, os.path.join(docs_dir, "documents.parquet"), out,
                embeddings=os.path.join(docs_dir, "embeddings.parquet"),
                cosine_threshold=CORPUS_COSINE)
    job_s = time.perf_counter() - t0
    return {"job_s": job_s, "stats": stats, "state_mb": dir_mb(out),
            "root": root}


def check_corpus(job: dict) -> list[str]:
    return [f"{k} = {job['stats'].get(k)} (expected {v})"
            for k, v in CORPUS_EXPECTED.items()
            if job["stats"].get(k) != v]


def keep_cc_in(work_dir: str) -> None:
    """connected_components defaults its per-round label tables to a
    fresh dir under /dev/shm; point it into the benchmark's work dir
    so the run writes only inside its checkout."""
    import itertools

    from crawler_spark.operators import cluster

    orig = cluster.connected_components
    seq = itertools.count()

    def cc(*args, **kwargs):
        if kwargs.get("work_dir") is None:
            kwargs["work_dir"] = os.path.join(work_dir, f"cc-{next(seq)}")
        return orig(*args, **kwargs)

    cluster.connected_components = cc

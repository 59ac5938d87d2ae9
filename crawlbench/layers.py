"""Per-layer measurement for the traced run.

``install`` wraps the public entry points of the engine's modules with
span recorders (``spans.Tracer``); in the untraced run it wraps only the
two calls the end-to-end metrics time (``CrawlEngine.run_wave`` and
``CrawlEngine.resume``).  ``probe`` runs the isolated per-layer
probes on the state a workload captured; ``metrics`` turns spans, the
Spark event log and probe results into the per-layer metrics.

A layer a workload never calls reads 0 on that workload: it is the
workload's "no change" prediction for an optimisation of that layer.
"""

from __future__ import annotations

import os
import statistics
import time

from spans import Tracer, busy_core_s, read_event_log, stage_skew_max

QUERY_NAMES = ("dedup_exact", "minhash_signatures", "lsh_candidate_pairs",
               "dedup_components", "simhash", "jaccard_near_dup",
               "ann_ivf_topk", "embedding_near_dup")

# name -> unit, in BENCHMARK.json order
PER_LAYER = {
    "crawl.run_wave_s": "s",
    "crawl.jobs_per_wave": "count",
    "crawl.tasks_per_wave": "count",
    "crawl.idle_core_frac": "fraction",
    "crawl.core_busy_frac": "fraction",
    "crawl.shuffle_bytes_per_url": "B/url",
    "crawl.spill_bytes": "B",
    "crawl.stage_skew_max": "ratio",
    "crawl.start_s": "s",
    "crawl.finalize_s": "s",
    "crawl.waves": "count",
    "crawl.fetch_ok_frac": "fraction",
    "crawl.recrawl_call_s": "s",
    "politeness.top_b_plan_s": "s/wave",
    "politeness.salt_n_max": "count",
    "politeness.top_b_busy_s": "s",
    "seen.build_plan_s": "s/wave",
    "seen.probe_plan_s": "s/wave",
    "seen.bloom_build_busy_s": "s",
    "seen.bloom_probe_busy_s": "s",
    "seen.bloom_fpr": "fraction",
    "seen.cuckoo_build_busy_s": "s",
    "seen.cuckoo_probe_busy_s": "s",
    "seen.cuckoo_delete_busy_s": "s",
    "seen.cuckoo_fpr": "fraction",
    "seen.filter_bytes": "B",
    "fetch.plan_s": "s/wave",
    "html.parse_us_per_page": "us",
    "imaging.verify_us_per_image": "us",
    "warehouse.commit_s": "s",
    "warehouse.bytes_written_per_url": "B/url",
    "warehouse.commits_per_wave": "count",
    "warehouse.files_per_wave": "count",
    "warehouse.read_s": "s",
    "warehouse.rollback_s": "s",
    **{f"queries.{q}_s": "s" for q in QUERY_NAMES},
    "queries.shuffle_bytes": "B",
    "queries.tasks": "count",
    "queries.stage_skew_max": "ratio",
    "session.start_s": "s",
    "worldgen.pages_s": "s",
    "trace.spans": "count",
}

WRITE_SPANS = ("warehouse.write", "warehouse.write_sharded",
               "warehouse.retag")
READ_SPANS = ("warehouse.read", "warehouse.read_at_tag")


def install(enabled: bool) -> Tracer:
    """Wrap the public entry points when ``enabled`` (the traced run),
    else only the engine calls the end-to-end metrics time."""
    from auto_ria_spark.plans import crawl as C

    tracer = Tracer()
    methods = (("run", "run_wave", "start", "resume", "recrawl", "finalize")
               if enabled else ("run_wave", "resume"))
    for meth in methods:
        tracer.wrap(C.CrawlEngine, meth, f"crawl.{meth}")
    if not enabled:
        return tracer
    from auto_ria_spark.operators import bloom, cuckoo, politeness
    from auto_ria_spark.sources import fetch, warehouse

    def salt(args, kwargs, res, info):
        info["salt_n"] = res

    for mod in (politeness, C):          # crawl.py binds these by name
        tracer.wrap(mod, "top_b_per_host", "politeness.top_b_per_host")
        tracer.wrap(mod, "salt_n_for", "politeness.salt_n_for", salt)
    for mod, name in ((fetch, "fetched_frontier"), (C, "fetched_frontier")):
        tracer.wrap(mod, name, "fetch.fetched_frontier")
    tracer.wrap(bloom, "build_filters", "seen.build")
    tracer.wrap(bloom, "probe_filters", "seen.probe")
    tracer.wrap(cuckoo, "build_cuckoo", "seen.build")
    tracer.wrap(cuckoo, "probe_cuckoo", "seen.probe")
    tracer.wrap(cuckoo, "delete_cuckoo", "seen.delete")

    T = warehouse.SnapshotTable
    for meth in ("write", "write_sharded", "retag"):
        tracer.wrap(T, meth, f"warehouse.{meth}")
    tracer.wrap(T, "read", "warehouse.read")
    tracer.wrap(T, "read_at_tag", "warehouse.read_at_tag")
    tracer.wrap(T, "rollback_to_tag", "warehouse.rollback_to_tag")
    return tracer


# --------------------------------------------------------------------------
# isolated probes
# --------------------------------------------------------------------------
def _group(spark, name: str, fn):
    """Run ``fn`` under Spark job group ``name``; return its wall time."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    t = time.time()
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return time.time() - t


def probe(spark, workload: str, out: dict, seed: int) -> None:
    if workload != "recrawl_html":
        return
    from pyspark.sql import functions as F

    from auto_ria_spark.functions import html_extract, imaging
    from auto_ria_spark.functions import urls as U
    from auto_ria_spark.operators import bloom, cuckoo, politeness
    from auto_ria_spark.plans.crawl import FRONTIER_COLS, resolve_log
    from auto_ria_spark.sources import worldgen

    cap = out["capture"]
    eng, cfg = cap["engine"], cap["cfg"]
    res = out["probe"] = {}
    seen = eng.seen().select("url_hash").localCheckpoint()
    # held-out hashes: URLs no world page uses, so never seen
    held = spark.range(20_000).select(U.url_hash64(F.format_string(
        "https://held-out.invalid/auto/%d.html", F.col("id")))
        .alias("url_hash")).localCheckpoint()

    def filter_probe(kind, build, probe_fn, delete=None):
        built = {}
        res[f"{kind}_build_wall_s"] = _group(
            spark, f"probe.{kind}_build",
            lambda: built.setdefault("f", build(seen).localCheckpoint()))
        flt = built["f"]
        cand = (seen.withColumn("held", F.lit(False))
                .unionByName(held.withColumn("held", F.lit(True))))
        agg = {}

        def go():
            agg["r"] = probe_fn(cand, flt).groupBy("held").agg(
                F.sum(F.col("maybe_seen").cast("long")).alias("hit"),
                F.count("*").alias("n")).collect()
        res[f"{kind}_probe_wall_s"] = _group(spark, f"probe.{kind}_probe", go)
        rows = {r["held"]: r for r in agg["r"]}
        res[f"{kind}_fpr"] = rows[True]["hit"] / rows[True]["n"]
        res[f"{kind}_false_neg"] = rows[False]["n"] - rows[False]["hit"]
        if delete is not None:
            victims = seen.sample(fraction=0.1, seed=seed)
            res[f"{kind}_delete_wall_s"] = _group(
                spark, f"probe.{kind}_delete",
                lambda: delete(victims, flt).collect())

    filter_probe(
        "bloom",
        lambda s: bloom.build_filters(
            s, None, num_shards=cfg.num_shards,
            m_bits=cfg.bloom_bits_per_shard, k=cfg.bloom_k, wave=0),
        lambda c, f: bloom.probe_filters(
            c, f, num_shards=cfg.num_shards,
            m_bits=cfg.bloom_bits_per_shard, k=cfg.bloom_k))
    nb = cfg.cuckoo_buckets_per_shard
    filter_probe(
        "cuckoo",
        lambda s: cuckoo.build_cuckoo(s, None, num_shards=cfg.num_shards,
                                      n_buckets=nb, wave=0),
        lambda c, f: cuckoo.probe_cuckoo(c, f, num_shards=cfg.num_shards,
                                         n_buckets=nb),
        lambda v, f: cuckoo.delete_cuckoo(v, f, num_shards=cfg.num_shards,
                                          n_buckets=nb, wave=1))

    # top-B on the frontier of the wave that left the most work behind
    hot = out["hot_wave"]
    raw = eng.t["frontier"].read_at_tag(spark, "wave", hot)
    fr = resolve_log(raw, "url_hash", FRONTIER_COLS).localCheckpoint()
    per_host = fr.groupBy("host").count().collect()
    salt_n = politeness.salt_n_for(max((r["count"] for r in per_host),
                                       default=0), cfg.salt_target)
    res["top_b_rows"] = fr.count()
    res["top_b_salt_n"] = salt_n
    res["top_b_wall_s"] = _group(
        spark, "probe.top_b",
        lambda: politeness.top_b_per_host(
            fr, cfg.host_budget, ["kind_rank", "discovery_rank", "url_norm"],
            salt_n=salt_n).collect())

    # Python-side parsers and image checks, per page / per image
    pages = [r for r in cap["world"] if r["kind"] in ("car", "listing")]

    def parse_all():
        for r in pages:
            if r["kind"] == "car":
                html_extract.car_payload(r["payload"])
            else:
                html_extract.listing_payload(r["payload"])
    res["html_us_per_page"] = _median_us(parse_all, len(pages))
    images = [worldgen.corpus_row(g)["bytes"]
              for g in range(cap["images"])]

    def verify_all():
        for b in images:
            imaging.phash64(imaging.decode_image(b))
    res["imaging_us_per_image"] = _median_us(verify_all, len(images))


def _median_us(fn, n: int, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times) / max(n, 1) * 1e6


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------
def metrics(workload: str, out: dict, tracer: Tracer, work: str,
            cores: int) -> dict:
    """All per-layer metrics as ``name -> (value, unit)``; names outside
    ``PER_LAYER`` are extra detail for the report line."""
    m = {name: 0.0 for name in PER_LAYER}
    lay = out["layer"]
    m["session.start_s"] = lay.get("session.start_s", 0.0)
    m["worldgen.pages_s"] = lay.get("worldgen.pages_s", 0.0)
    m["trace.spans"] = len(tracer.spans)
    log_dir = os.path.join(work, "eventlog")
    log = read_event_log(log_dir) if os.path.isdir(log_dir) else None
    if workload == "recrawl_html":
        _crawl_metrics(m, out, tracer, log, cores)
    else:
        _query_metrics(m, out, log)
    units = dict(PER_LAYER)
    return {k: (float(v), units.get(k, "")) for k, v in m.items()}


def _crawl_metrics(m, out, tracer, log, cores):
    t0, t1 = out["crawl_window"]
    waves = [s for s in tracer.named("crawl.run_wave") if t0 <= s.start < t1]
    n_waves = max(1, len(waves))
    urls = out["crawl_urls"]
    m["crawl.run_wave_s"] = statistics.median(s.dur for s in waves)
    m["crawl.waves"] = len(waves)
    m["crawl.fetch_ok_frac"] = out["detail"]["fetch_ok_frac"]
    m["crawl.start_s"] = tracer.total("crawl.start", t0, t1)
    m["crawl.finalize_s"] = tracer.total("crawl.finalize", t0, t1)
    rec = tracer.named("crawl.recrawl")
    m["crawl.recrawl_call_s"] = statistics.median(s.dur for s in rec) if rec else 0.0
    m["politeness.top_b_plan_s"] = tracer.total(
        "politeness.top_b_per_host", t0, t1) / n_waves
    m["politeness.salt_n_max"] = max(
        (s.info.get("salt_n", 0) for s in tracer.within(
            "politeness.salt_n_for", t0, t1)), default=0)
    m["seen.build_plan_s"] = tracer.total("seen.build", t0, t1) / n_waves
    m["seen.probe_plan_s"] = tracer.total("seen.probe", t0, t1) / n_waves
    m["fetch.plan_s"] = tracer.total("fetch.fetched_frontier", t0, t1) / n_waves
    writes = [s for n in WRITE_SPANS for s in tracer.within(n, t0, t1)]
    m["warehouse.commit_s"] = sum(s.dur for s in writes)
    m["warehouse.commits_per_wave"] = len(writes) / n_waves
    # the crawl starts from an empty warehouse and deletes no file, so the
    # data files on disk after it are the files it wrote
    n_files, n_bytes = out["crawl_data_files"]
    m["warehouse.bytes_written_per_url"] = n_bytes / max(1, urls)
    m["warehouse.files_per_wave"] = n_files / n_waves
    # reads and rollbacks under resume() and recrawl()
    by_id = {s.id: s for s in tracer.spans}

    def under(s, names):
        p = s.parent
        while p is not None:
            ps = by_id.get(p)
            if ps is None:
                return False
            if ps.name in names:
                return True
            p = ps.parent
        return False
    roots = ("crawl.resume", "crawl.recrawl")
    m["warehouse.read_s"] = sum(
        s.dur for n in READ_SPANS for s in tracer.named(n) if under(s, roots))
    m["warehouse.rollback_s"] = sum(
        s.dur for s in tracer.named("warehouse.rollback_to_tag")
        if under(s, roots))
    m["seen.filter_bytes"] = out["filter_bytes"]

    p = out.get("probe", {})
    m["seen.bloom_fpr"] = p.get("bloom_fpr", 0.0)
    m["seen.cuckoo_fpr"] = p.get("cuckoo_fpr", 0.0)
    m["html.parse_us_per_page"] = p.get("html_us_per_page", 0.0)
    m["imaging.verify_us_per_image"] = p.get("imaging_us_per_image", 0.0)
    m["probe.bloom_false_neg"] = p.get("bloom_false_neg", 0)
    m["probe.cuckoo_false_neg"] = p.get("cuckoo_false_neg", 0)
    for k in ("bloom_build_wall_s", "bloom_probe_wall_s", "cuckoo_build_wall_s",
              "cuckoo_probe_wall_s", "cuckoo_delete_wall_s", "top_b_wall_s",
              "top_b_rows", "top_b_salt_n"):
        if k in p:
            m[f"probe.{k}"] = p[k]
    if log is None:
        return
    busy = {
        "seen.bloom_build_busy_s": "probe.bloom_build",
        "seen.bloom_probe_busy_s": "probe.bloom_probe",
        "seen.cuckoo_build_busy_s": "probe.cuckoo_build",
        "seen.cuckoo_probe_busy_s": "probe.cuckoo_probe",
        "seen.cuckoo_delete_busy_s": "probe.cuckoo_delete",
        "politeness.top_b_busy_s": "probe.top_b",
    }
    for name, group in busy.items():
        m[name] = sum(t.run_s for t in log.tasks_of_group(group))
    jobs, tasks, idle = [], [], []
    for s in waves:
        jobs.append(len(log.jobs_in(s.start, s.end)))
        tasks.append(len(log.tasks_in(s.start, s.end)))
        idle.append(1.0 - busy_core_s(log.tasks, s.start, s.end)
                    / (cores * max(s.dur, 1e-9)))
    m["crawl.jobs_per_wave"] = statistics.mean(jobs)
    m["crawl.tasks_per_wave"] = statistics.mean(tasks)
    m["crawl.idle_core_frac"] = statistics.mean(idle)
    in_crawl = log.tasks_in(t0, t1)
    m["crawl.core_busy_frac"] = busy_core_s(log.tasks, t0, t1) / (cores * (t1 - t0))
    m["crawl.shuffle_bytes_per_url"] = (
        sum(t.shuffle_write for t in in_crawl) / max(1, urls))
    m["crawl.spill_bytes"] = sum(t.spill for t in in_crawl)
    m["crawl.stage_skew_max"] = stage_skew_max(in_crawl)


def _query_metrics(m, out, log):
    for q in QUERY_NAMES:
        m[f"queries.{q}_s"] = out["per_query"].get(q, 0.0)
    if log is None:
        return
    tasks = [t for w0, w1 in out["query_windows"] for t in log.tasks_in(w0, w1)]
    n = max(1, len(out["query_windows"]))
    m["queries.shuffle_bytes"] = sum(t.shuffle_write for t in tasks) / n
    m["queries.tasks"] = len(tasks) / n
    m["queries.stage_skew_max"] = stage_skew_max(tasks)

"""The benchmark's workloads: set-up, timed region and oracle check.

recrawl_html
    An HTML crawl with the cuckoo seen-filter that stops after wave 0,
    resumes in a fresh engine, crawls to the end, then re-crawls a
    seed-chosen ~10% of the saved listings.  It runs every crawl layer:
    the selector-cascade HTML parser, salted top-B (the config puts
    ``salt_target`` below the hosts' backlog), cuckoo insert/probe/delete,
    table appends, overwrites and rollbacks.  Checked against the
    pure-Python crawl oracle on the JSON rendering of the same world,
    after the resumed crawl and again after each re-crawl converges.

near_dup
    The ``queries.py`` dedup set over the sf0.1 documents/embeddings
    tables (``data/sf0.1``); bypasses every crawl layer.  Checked against
    ``oracle_sql()`` in DuckDB.

Both time the first execution in a fresh JVM: a warm-up costs a whole
cold execution, which the benchmark's time budget does not have.
"""

from __future__ import annotations

import contextlib
import math
import os
import random
import re
import statistics
import subprocess
import threading
import time
from collections import Counter

import layers

# -- recrawl_html world and engine config (fixed; the seed picks only the
#    host seed order and the stale subset) ---------------------------------
HOSTS = 2
CARS_PER_HOST = 40
PAGE_SIZE = 40
STALE_FRAC = 0.10
STOP_WAVE = 0           # the one-page world crawls in two waves
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "data", "sf0.1")

# every end-to-end metric, printed by name with its unit on the
# ``E2E`` report line; the ``GATED`` ones are also the result's metrics
# with --trace 0 (the others move with host load or heap growth)
END_TO_END = {
    "setup_s": "s", "work_cpu_s": "s", "peak_rss_mb": "MB",
    "work_s": "s", "urls_per_s": "1/s", "crawl_s": "s",
    "crawl_urls_per_s": "1/s", "wave_s_p50": "s", "wave_s_p75": "s",
    "resume_s": "s", "recrawl_s": "s", "store_bytes_per_url": "B/url",
    "query_set_s": "s", "fail_frac": "fraction",
}
GATED = ("setup_s", "work_cpu_s")
E2E = "end-to-end: "

CAR_FIELDS = ("url", "title", "price_usd", "odometer", "username",
              "phone_number", "image_url", "images_count", "car_number",
              "car_vin", "discovery_rank")


def crawl_config(cores: int):
    from auto_ria_spark.config import CrawlConfig
    return CrawlConfig(
        host_budget=40, phone_budget=40, backoff_base_s=1, wave_seconds=5,
        num_shards=8, shuffle_partitions=max(cores, 8),
        payload_format="html", seen_filter="cuckoo",
        cuckoo_buckets_per_shard=1 << 10, salt_target=2)


# --------------------------------------------------------------------------
# process measurements
# --------------------------------------------------------------------------
def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(d))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, with reaped children) of this process
    and every process below it: the driver, its JVM and the JVM's Python
    workers."""
    ppid, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ppid[int(d)] = int(f[1])
        cpu[int(d)] = sum(int(x) for x in f[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        p = todo.pop()
        total += cpu.get(p, 0)
        todo += [c for c, pp in ppid.items() if pp == p]
    return total / os.sysconf("SC_CLK_TCK")


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak RSS of this process plus its JVM child, sampled from /proc
    every 50 ms while sampling is on (``resume()`` .. ``pause()``)."""

    def __init__(self):
        me = os.getpid()
        self.pids = [me] + [p for p in _children(me) if _is_java(p)]
        self.peak = 0
        self._on = False
        self._lock = threading.Lock()
        self._done = threading.Event()
        self._th = threading.Thread(target=self._loop, daemon=True)
        self._th.start()

    def _sample(self):
        self.peak = max(self.peak, sum(_rss_bytes(p) for p in self.pids))

    def _loop(self):
        while not self._done.is_set():
            with self._lock:
                if self._on:
                    self._sample()
            self._done.wait(0.05)

    def resume(self):
        with self._lock:
            self._on = True
            self._sample()

    def pause(self):
        with self._lock:
            self._sample()
            self._on = False

    def close(self) -> float:
        """Stop the sampling thread; return the peak in MB."""
        self._done.set()
        self._th.join()
        return self.peak / 2**20


@contextlib.contextmanager
def timed(tracer, sampler: RssSampler, sink: list):
    """One section of the timed region: spans are recorded and RSS is
    sampled; appends ``(start, wall s, CPU s)`` to ``sink``."""
    tracer.on()
    sampler.resume()
    t0, cpu0 = time.time(), tree_cpu_s()
    try:
        yield
    finally:
        sink.append((t0, time.time() - t0, tree_cpu_s() - cpu0))
        sampler.pause()
        tracer.off()


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return b"java" in fh.read().split(b"\0")[0]
    except OSError:
        return False


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def parquet_files(path: str) -> tuple[int, int]:
    """(count, bytes) of the parquet data files under ``path``."""
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
             if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(f) for f in files)


def start_session(cores: int, work: str, trace: bool):
    from auto_ria_spark.session import get_spark
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("crawlbench", cores=cores,
                      shuffle_partitions=max(cores, 8), extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(timeout_s: float = 60) -> None:
    """End the session's JVM and wait for it: the gateway exits when its
    stdin pipe closes, and its Python workers exit with it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    try:
        gateway.shutdown()
    finally:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in (0, 1])."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


# --------------------------------------------------------------------------
# recrawl_html
# --------------------------------------------------------------------------
def _host(url: str) -> str:
    return re.match(r"https://([^/:?#]*)", url).group(1)


class CrawlCheck:
    """Mismatch count of an engine's warehouse against the crawl oracle:
    cars rows missing or differing, the symmetric difference of the seen
    set, and discovery-order mismatches."""

    def __init__(self, oracle):
        self.oracle = oracle
        self.expected = len(oracle.cars) + len(oracle.seen)
        # the oracle lists discovery order host after host in seed order;
        # the engine's order key is (host, discovery_rank)
        pos = {u: i for i, u in enumerate(oracle.order)}
        self.order = sorted(oracle.order, key=lambda u: (_host(u), pos[u]))

    def mismatches(self, eng) -> int:
        o = self.oracle
        seen = eng.seen().select("url_norm", "kind", "host",
                                 "discovery_rank").collect()
        got_seen = {r.url_norm for r in seen}
        bad = len(got_seen ^ o.seen)
        got_order = [u for _, _, u in sorted(
            (r.host, r.discovery_rank, r.url_norm) for r in seen
            if r.kind == "car" and r.discovery_rank is not None)]
        bad += sum(a != b for a, b in zip(got_order, self.order))
        bad += abs(len(got_order) - len(self.order))
        got = {r["url"]: tuple(r[f] for f in CAR_FIELDS)
               for r in eng.cars_final().select(*CAR_FIELDS).collect()}
        exp = {c["url"]: tuple(c[f] for f in CAR_FIELDS) for c in o.cars}
        bad += sum(got.get(u) != row for u, row in exp.items())
        bad += len(set(got) - set(exp))
        return bad


def recrawl_html(spark, seed: int, seconds: int, cores: int, work: str,
                 tracer, out: dict) -> None:
    from auto_ria_spark.oracle import crawl_oracle
    from auto_ria_spark.plans.crawl import CrawlEngine
    from auto_ria_spark.sources import worldgen

    rng = random.Random(seed)
    cfg = crawl_config(cores)
    t = time.time()
    world = worldgen.build_world_local(HOSTS, CARS_PER_HOST, PAGE_SIZE,
                                       fmt="html")
    pages = worldgen.pages_local_df(spark, world).cache()
    pages.count()
    out["layer"]["worldgen.pages_s"] = time.time() - t
    seeds = worldgen.seed_rows(HOSTS)
    rng.shuffle(seeds)
    out["setup_done"] = time.time()

    oracle = crawl_oracle(
        worldgen.build_world_local(HOSTS, CARS_PER_HOST, PAGE_SIZE), seeds,
        cfg)
    check = CrawlCheck(oracle)
    saved = sorted(c["url"] for c in oracle.cars)
    n_stale = max(1, round(STALE_FRAC * len(saved)))
    # stale candidates exclude the few cars whose phone endpoint answers
    # 429 first: re-crawling one of those adds a retry wave, and a seed
    # must change which listings go stale, not how many waves a round takes
    retry = {worldgen.car_fields(h, CARS_PER_HOST, i)["url"]
             for h in range(HOSTS) for i in range(CARS_PER_HOST)
             if worldgen.car_fields(h, CARS_PER_HOST, i)["phone_429"]}
    fresh = [u for u in saved if u not in retry]
    wh = os.path.join(work, "wh")

    sampler = RssSampler()
    crawl, rounds = [], []
    with timed(tracer, sampler, crawl):
        eng = CrawlEngine(spark, wh, cfg, pages=pages)
        stats = eng.run(seeds=seeds, stop_after_wave=STOP_WAVE)
        eng = CrawlEngine(spark, wh, cfg, pages=pages)
        stats += eng.run(seeds=None)
    t0, crawl_s, crawl_cpu = crawl[0]
    urls = sum(s.selected + s.discovered for s in stats)
    # run() of the fresh engine resumes first; later run()s resume too
    resume_s = tracer.within("crawl.resume", t0, t0 + crawl_s)[0].dur
    crawl_waves = len(tracer.within("crawl.run_wave", t0, t0 + crawl_s))

    # oracle check 1 (untimed): the resumed crawl equals the oracle
    bad = check.mismatches(eng)
    attempted = check.expected
    out["crawl_window"] = (t0, t0 + crawl_s)
    out["store_bytes_per_url"] = dir_bytes(wh) / max(1, len(oracle.seen))
    out["crawl_urls"] = urls
    out["hot_wave"] = max(stats, key=lambda s: s.frontier_left).wave
    out["filter_bytes"] = dir_bytes(os.path.join(wh, "seen_filters", "data"))
    out["crawl_data_files"] = parquet_files(wh)
    out["capture"] = {"engine": eng, "world": world, "cfg": cfg,
                      "images": HOSTS * CARS_PER_HOST}

    # re-crawl rounds until the run's seconds are used (at least one)
    while not rounds or crawl_s + sum(r[1] for r in rounds) < seconds:
        stale = rng.sample(fresh, n_stale)
        with timed(tracer, sampler, rounds):
            eng.recrawl(stale)
            stats_r = eng.run(seeds=None)
        urls += sum(s.selected + s.discovered for s in stats_r)
        # oracle check 2 (untimed): the refreshed state equals the oracle
        bad += check.mismatches(eng)
        attempted += check.expected
    out["peak_rss_mb"] = sampler.close()

    recrawl_s = [r[1] for r in rounds]
    work_s = crawl_s + sum(recrawl_s)
    wave_s = [s.dur for s in tracer.named("crawl.run_wave")]
    # the crawl plus one re-crawl round, whatever number of rounds the
    # run's seconds allowed
    out["work_cpu_s"] = crawl_cpu + statistics.median(r[2] for r in rounds)
    out["attempted"], out["failed"] = attempted, bad
    out["detail"].update({
        "work_s": work_s,
        "urls_per_s": urls / work_s,
        "crawl_s": crawl_s,
        "crawl_urls_per_s": sum(s.selected + s.discovered for s in stats)
        / crawl_s,
        "wave_s_p50": statistics.median(wave_s),
        "wave_s_p75": quantile(wave_s, 0.75),
        "waves": len(wave_s),
        "crawl_waves": crawl_waves,
        "resume_s": resume_s,
        "recrawl_s": statistics.median(recrawl_s),
        "recrawl_rounds": len(recrawl_s),
        "stale_urls": n_stale,
        "stop_wave": STOP_WAVE,
        "store_bytes_per_url": out["store_bytes_per_url"],
        "fetch_ok_frac": sum(s.fetched_ok for s in stats)
        / max(1, sum(s.selected for s in stats)),
    })


# --------------------------------------------------------------------------
# near_dup
# --------------------------------------------------------------------------
def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def _rows_spark(rows, cols):
    return sorted(tuple(_norm(r[c]) for c in cols) for r in rows)


def _min_label_components(ids, pairs) -> dict:
    """doc_id -> smallest doc_id connected to it through ``pairs``."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def _oracle_rows(con, sqls: dict, name: str, frames: dict) -> tuple:
    """(sorted columns, sorted normalised rows) of query ``name``'s DuckDB
    oracle; ``frames`` keeps each oracle's result for later queries."""
    if name == "dedup_components":
        # the recursive-CTE oracle takes ~13 s at sf0.1; these labels (min
        # doc_id of each connected component of the LSH candidate-pair
        # graph, singletons labelled by themselves) are its definition,
        # computed by union-find over the lsh_candidate_pairs oracle
        pairs = frames["lsh_candidate_pairs"][["doc_a", "doc_b"]]
        ids = [r[0] for r in con.execute(
            "SELECT doc_id FROM documents").fetchall()]
        labels = _min_label_components(
            ids, pairs.itertuples(index=False, name=None))
        return ["component", "doc_id"], sorted(
            (_norm(c), _norm(d)) for d, c in labels.items())
    ddf = frames[name] = con.execute(sqls[name]).fetch_df()
    cols = sorted(ddf.columns)
    return cols, sorted(tuple(_norm(v) for v in row) for row in
                        ddf[cols].itertuples(index=False, name=None))


def near_dup(spark, seed: int, seconds: int, cores: int, work: str,
             tracer, out: dict) -> None:
    import duckdb
    from auto_ria_spark.queries import oracle_sql, queries

    qs = queries()
    fns = {n: qs[n] for n in layers.QUERY_NAMES}

    def query_set():
        got = {}
        for name, fn in fns.items():
            tok = tracer.begin(f"queries.{name}")
            df = fn(spark, SF_DIR)
            got[name] = (df.columns, df.collect())
            tracer.end(tok)
        return got

    out["setup_done"] = time.time()

    sampler = RssSampler()
    passes = []
    while not passes or sum(p[1] for p in passes) < seconds:
        with timed(tracer, sampler, passes):
            got = query_set()
    out["peak_rss_mb"] = sampler.close()
    out["query_windows"] = [(t, t + dt) for t, dt, _ in passes]

    # oracle check (untimed): DuckDB over the same parquet files
    con = duckdb.connect()
    for tbl in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM "
                    f"'{os.path.join(SF_DIR, tbl + '.parquet')}'")
    sqls = oracle_sql()
    attempted = bad = 0
    frames: dict = {}
    for name in layers.QUERY_NAMES:      # lsh_candidate_pairs comes first
        cols, rows = got[name]
        scols = sorted(cols)
        srows = _rows_spark(rows, scols)
        dcols, drows = _oracle_rows(con, sqls, name, frames)
        expected = max(len(drows), 1)
        attempted += expected
        if scols != dcols:
            bad += expected
            continue
        want, have = Counter(drows), Counter(srows)
        bad += min(sum(((want - have) + (have - want)).values()), expected)
    con.close()

    out["work_cpu_s"] = statistics.median(p[2] for p in passes)
    out["attempted"], out["failed"] = attempted, bad
    out["detail"].update({
        "query_set_s": statistics.median(p[1] for p in passes),
        "passes_s": [p[1] for p in passes],
        "passes_cpu_s": [p[2] for p in passes],
        "rows": {n: len(got[n][1]) for n in layers.QUERY_NAMES},
    })
    out["per_query"] = {
        n: statistics.median(s.dur for s in tracer.named(f"queries.{n}"))
        for n in layers.QUERY_NAMES}


# --------------------------------------------------------------------------
def run(workload: str, *, seed: int, seconds: int, trace: bool, work: str,
        cores: int) -> dict:
    out: dict = {"layer": {}, "detail": {"seed": seed, "cores": cores}}
    tracer = layers.install(trace)
    t0 = time.time()
    spark = start_session(cores, work, trace)
    out["layer"]["session.start_s"] = time.time() - t0
    error = None
    try:
        {"recrawl_html": recrawl_html, "near_dup": near_dup}[workload](
            spark, seed, seconds, cores, work, tracer, out)
        if trace:
            layers.probe(spark, workload, out, seed)
    except Exception as e:  # a run that raises counts as fail_frac 1.0
        import traceback
        traceback.print_exc()
        error = f"{type(e).__name__}: {e}"
    finally:
        tracer.off()
        spark.stop()
        stop_jvm()
    attempted = out.get("attempted") or 1
    failed = attempted if error else out.get("failed", attempted)
    detail = dict(out["detail"])
    detail["setup_s"] = out.get("setup_done", time.time()) - t0
    detail["fail_frac"] = failed / attempted
    for k in ("work_cpu_s", "peak_rss_mb"):
        if k in out:
            detail[k] = out[k]
    if error:
        detail["error"] = error[:300]
    e2e = {k: {"value": detail.pop(k), "unit": u}
           for k, u in END_TO_END.items() if k in detail}
    res = {"correct": error is None and failed == 0,
           "attempted": attempted, "failed": failed}
    report = [f"workload={workload} seed={seed} trace={int(trace)} "
              f"cores={cores} " + _json(detail), E2E + _json(e2e)]
    if trace:
        per_layer = (layers.metrics(workload, out, tracer, work, cores)
                     if error is None else {})
        res["metrics"] = {k: {"value": v, "unit": u}
                          for k, (v, u) in per_layer.items()
                          if k in layers.PER_LAYER}
        report.append("per-layer detail: " + _json(
            {k: v for k, (v, u) in per_layer.items()
             if k not in layers.PER_LAYER}))
    else:
        res["metrics"] = {k: e2e[k] for k in GATED if k in e2e}
    res["report"] = report
    return res


def _json(d) -> str:
    import json
    return json.dumps(d, default=str, sort_keys=True)

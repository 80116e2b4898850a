"""Crawl/search benchmark for aspseek_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each run is a fresh crawl over a seeded
webgen web on ``local[nproc]``, with the realtime search tier attached and
served by a ``SearchDaemon``. Set-up (session start, fixture load,
``ensure_init``) is reported as ``setup_s``. Timed are round 1
(``CrawlJob.run_one``), which fetches the seed set far from saturation,
and a closed loop of ``Q`` requests from two ``SearchClient`` sessions to a
freshly built main index, until ``--seconds`` after the round started (at
least MIN_BURST_S). Outputs are checked against the oracle crawler and the
fresh index outside the timed parts; inputs and oracle results are cached
per workload and seed under ``.perfbench/``.

The last stdout line is the result; the line before it is a summary of the
resolved settings, the time of each part of the run, per-round counts,
saturation flag and failures. ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` a traced run's per-layer metrics
(perfbench/layers.py). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from urllib.parse import urlsplit

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
VERSION = "v2"  # bump when a cached input or expectation changes meaning


@dataclass(frozen=True)
class Workload:
    n_pages: int
    body_words: int
    probe: str
    seed_per_host: int  # pages seeded on each host besides its root


# Why each workload exists: perfbench/README.md. Seeding pages besides the
# host roots gives the one timed round a few hundred pages to fetch, and it
# finds links to several times as many: the crawl is still growing.
WORKLOADS = {
    "crawl_large_pages": Workload(
        n_pages=3000, body_words=2000, probe="bloom", seed_per_host=6,
    ),
    "crawl_search_live": Workload(
        n_pages=4000, body_words=40, probe="cuckoo", seed_per_host=8,
    ),
}
SEED_HOSTS_FRAC = 1.0  # every host's root is a seed
N_ROUNDS = 1  # the timed round (module docstring)
CLIENTS = 2
RT_MAX_SEGMENTS = None  # no absorb during the crawl (see run_workload)
QUERY_WINDOW = 100  # SearchDaemon's default Q page size
MIN_BURST_S = 5.0


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


class TreeCpu:
    """CPU seconds of this process and its descendants (the JVM, the
    pandas-UDF workers), read from /proc with the descendant walk of
    scripts/effective_cores.py."""

    def __init__(self):
        path = os.path.join(ROOT, "scripts", "effective_cores.py")
        spec = importlib.util.spec_from_file_location("effective_cores", path)
        self._ec = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self._ec)

    def seconds(self) -> float:
        ec = self._ec
        ticks = 0
        for pid in ec._descendants(os.getpid()):
            t = ec._cpu_ticks(pid)
            if t is not None:
                ticks += t
        return ticks / ec.HZ


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def session_settings(wl: Workload, trace: bool) -> dict:
    """Session and crawl sizing fitted to this machine."""
    ncpu = len(os.sched_getaffinity(0))
    # a quarter of RAM, between 1 and 4 GiB: the machine is shared
    mem_gb = max(1, min(4, _mem_total_bytes() // (4 << 30)))
    # at most ~1.2 seen keys per page (dead links, variants); cuckoo tables
    # are kept at <= 50% load so a capacity error cannot stand in for a
    # slow run
    max_keys = int(wl.n_pages * 1.2) + 64
    buckets = -(-max_keys // (ncpu * 4 // 2))
    return {
        "master": f"local[{ncpu}]",
        "cores": ncpu,
        "shuffle_partitions": ncpu,
        "bloom_partitions": ncpu,
        "bloom_bits_per_partition": 1 << 20,
        "cuckoo_buckets_per_partition": buckets,
        "driver_memory": f"{mem_gb}g",
        "adaptive": True,
        "event_log": trace,
    }


def build_session(settings: dict, trace: bool, events_dir: str):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(settings["master"])
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(settings["shuffle_partitions"]))
        .config("spark.sql.adaptive.enabled", str(settings["adaptive"]).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", settings["driver_memory"])
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.eventLog.enabled", "true" if trace else "false")
    )
    if trace:
        b = (
            b.config("spark.eventLog.dir", events_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM (it exits when its stdin closes, and
    takes the Python workers with it) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _contain_writes() -> None:
    """Keep every temp file, Spark scratch dir and worker temp file inside
    the checkout."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # no bytecode caches written next to installed packages
    sys.dont_write_bytecode = True
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # pandas-UDF workers import the program
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


# -- inputs -------------------------------------------------------------------
def input_id(name: str, wl: Workload, seed: int) -> str:
    """Names the cached inputs and expectations of a workload and seed."""
    digest = hashlib.md5(
        f"{VERSION} {wl!r} {SEED_HOSTS_FRAC} {N_ROUNDS}".encode()).hexdigest()[:8]
    return f"{name}_s{seed}_{digest}"


def ensure_web(run_id: str, wl: Workload, seed: int) -> str:
    from aspseek_spark.sources.webgen import WebSpec, write_web

    out = os.path.join(WORK, "web", run_id)
    if os.path.exists(os.path.join(out, "_COMPLETE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    write_web(out, WebSpec(
        n_pages=wl.n_pages, seed=seed, seed_hosts_frac=SEED_HOSTS_FRAC,
        body_words=wl.body_words,
    ))
    # add to webgen's host roots a seeded sample of the same number of
    # pages on every host (all of a smaller one). A sample over the whole
    # web would follow the skewed host sizes into the per-host budget, and
    # the round's URL count would swing with --seed
    roots = pq.read_table(f"{out}/seeds.parquet").column("url").to_pylist()
    urls = pq.read_table(f"{out}/pages.parquet", columns=["url"]).column(
        "url").to_pylist()
    by_host: dict[str, list[str]] = {}
    for u in sorted(set(urls) - set(roots)):
        by_host.setdefault(urlsplit(u).netloc, []).append(u)
    rng = random.Random(seed)
    extra = sorted(u for h in sorted(by_host) for u in rng.sample(
        by_host[h], min(wl.seed_per_host, len(by_host[h]))))
    pq.write_table(pa.table({"url": pa.array(roots + extra, pa.string())}),
                   f"{out}/seeds.parquet")
    with open(os.path.join(out, "_COMPLETE"), "w") as f:
        f.write("ok")
    return out


# the webgen vocabulary: every page body draws from these words
VOCAB = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu "
    "xi omicron pi rho sigma tau upsilon phi chi psi omega search engine "
    "crawler frontier politeness robots index page host link anchor"
).split()


def query_mix(seed: int, hosts: list[str]) -> list[str]:
    """The distinct queries of a seed, one per form, together using every
    operator of the query language (AND, NOT, OR, phrase, site:)."""
    rng = random.Random(seed * 7919 + 17)
    forms = [
        lambda a, b, h: f"{a} & ~{b}",
        lambda a, b, h: f"{a} | {b}",
        lambda a, b, h: f'"{a} {b}"',
        lambda a, b, h: f"{a} & site:{h}",
    ]
    distinct: list[str] = []
    while len(distinct) < len(forms):
        a, b = rng.sample(VOCAB, 2)
        q = forms[len(distinct)](a, b, rng.choice(hosts))
        if q not in distinct:
            distinct.append(q)
    return distinct


# -- the workload ---------------------------------------------------------------
class Run:
    def __init__(self, name: str, wl: Workload, seed: int, seconds: int,
                 trace: bool):
        self.name, self.wl, self.seed = name, wl, seed
        self.seconds = seconds
        self.trace = trace
        self.attempted = 0
        self.failures: list[str] = []
        self.rounds: list[dict] = []  # timed rounds
        self.all_rounds: list[dict] = []
        self.requests: list[tuple] = []  # timed (query, t_send, t_recv, hits)
        self.cpu_s = 0.0
        self.t0 = time.time()
        self.marks: list[tuple[str, float]] = []  # part of the run, end time

    def mark(self, part: str) -> None:
        self.marks.append((part, time.time()))

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def closed_loop(self, addr, take, clients: int = CLIENTS) -> list[tuple]:
        """``clients`` searchd sessions, each sending its next Q only after
        the previous reply, until ``take()`` returns None. Returns
        (query, t_send, t_recv, hits or None on failure) per request."""
        from aspseek_spark.plans.searchd import SearchClient

        lock = threading.Lock()
        done: list[tuple] = []

        def client() -> None:
            c = SearchClient(*addr)
            try:
                while True:
                    with lock:
                        q = take()
                    if q is None:
                        return
                    t0 = time.time()
                    try:
                        hits = c.query(q)
                    except (RuntimeError, ConnectionError, OSError) as e:
                        hits = None
                        self.fail(f"query {q!r}: {e}")
                    with lock:
                        self.attempted += 1
                        done.append((q, t0, time.time(), hits))
            finally:
                c.close()

        threads = [threading.Thread(target=client) for _ in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return done

    def serve_each(self, addr, queries: list[str]) -> dict:
        """Each query once, all at once, one session each → its served
        page."""
        todo = list(queries)
        return {
            q: hits for q, _t0, _t1, hits in self.closed_loop(
                addr, lambda: todo.pop() if todo else None, len(queries))
            if hits is not None
        }


def crawl_config(wl: Workload, st: dict):
    from aspseek_spark.config import CrawlConfig

    return CrawlConfig(
        host_budget=64,
        probe=wl.probe,
        bloom_partitions=st["bloom_partitions"],
        bloom_bits_per_partition=st["bloom_bits_per_partition"],
        bloom_num_hashes=7,
        cuckoo_buckets_per_partition=st["cuckoo_buckets_per_partition"],
        shuffle_partitions=st["shuffle_partitions"],
    )


def run_workload(run: Run, spark, web: str, state_root: str, cfg) -> dict:
    from aspseek_spark.plans.crawl_loop import CrawlJob
    from aspseek_spark.plans.search_job import SearchJob
    from aspseek_spark.plans.searchd import SearchClient, SearchDaemon
    from aspseek_spark.sources.tables import StateStore

    st = run.settings
    store = StateStore(os.path.join(state_root, "state"), spark)
    sj = SearchJob(
        spark, os.path.join(state_root, "index"),
        n_buckets=st["shuffle_partitions"], rt_max_segments=RT_MAX_SEGMENTS,
    )
    job = CrawlJob(
        spark, store, cfg,
        spark.read.parquet(f"{web}/pages.parquet"),
        spark.read.parquet(f"{web}/robots_src.parquet"),
        realtime_index=sj,
    )
    hosts = sorted(pq.read_table(
        f"{web}/robots_src.parquet", columns=["host"]).column("host").to_pylist())
    distinct = query_mix(run.seed, hosts)
    rt_daemon = SearchDaemon(sj, page_size=QUERY_WINDOW)
    rt_addr = rt_daemon.start()
    try:
        run.mark("fixture_load")
        job.ensure_init(spark.read.parquet(f"{web}/seeds.parquet"))
        run.mark("ensure_init")
        run.setup_s = time.time() - run.t_start

        cpu = TreeCpu()
        for r in range(1, N_ROUNDS + 1):
            run.attempted += 1
            c0, t0 = cpu.seconds(), time.time()
            m = job.run_one(r)
            run.rounds.append(dict(m, wall_s=time.time() - t0))
            run.cpu_s += cpu.seconds() - c0
            run.all_rounds.append(m)
        run.mark("round")
        # untimed, side by side: a fresh build of the main index from the
        # committed fetched table, and a first pass of every distinct query
        # once against the crawl's realtime tier. Its pages are checked
        # against the fresh build
        import checks

        with ThreadPoolExecutor(max_workers=1) as pool:
            fresh = pool.submit(checks.fresh_index, run, spark, store,
                                distinct, N_ROUNDS, QUERY_WINDOW)
            served = {"realtime": run.serve_each(rt_addr, distinct)}
            run.mark("first_pass")
            main_sj, expected_search = fresh.result()
        run.mark("fresh_build")
        # timed: the main index, served by its own daemon. Its query path is
        # warm from the build's own queries. Zipf(1.1) popularity over the
        # distinct queries, so popular ones repeat, until the window's
        # --seconds are used
        daemon = SearchDaemon(main_sj, page_size=QUERY_WINDOW)
        addr = daemon.start()
        try:
            rng = random.Random(run.seed)
            weights = [1.0 / (i + 1) ** 1.1 for i in range(len(distinct))]
            crawl_s = sum(m["wall_s"] for m in run.rounds)
            deadline = time.time() + max(MIN_BURST_S, run.seconds - crawl_s)
            run.requests = run.closed_loop(
                addr, lambda: rng.choices(distinct, weights)[0]
                if time.time() < deadline else None)
            run.mark("queries")
            c = SearchClient(*addr)
            try:
                stats = c.stats()
            finally:
                c.close()
        finally:
            daemon.stop()
        if run.trace:
            # the absorb of the realtime segment into the crawl's main
            # index. It is outside every timed part (reads beside an absorb
            # are bimodal), so only the traced run, which reports it, pays
            # for it; its pages are checked too
            sj.merge_realtime()
            served["absorbed"] = run.serve_each(rt_addr, distinct)
            run.mark("absorb")
    finally:
        rt_daemon.stop()
    return {
        "store": store, "cfg": cfg, "distinct": distinct, "served": served,
        "expected_search": expected_search, "stats": stats,
    }


def _dir_bytes(path: str) -> int:
    total = 0
    for dp, _dn, fn in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in fn)
    return total


def end_to_end(run: Run, state_mb_per_kurl: float) -> dict:
    wall = sum(m["wall_s"] for m in run.rounds)
    urls = sum(m["urls_scheduled"] + m["new_urls"] for m in run.rounds)
    ok = [(t0, t1) for _q, t0, t1, hits in run.requests if hits is not None]
    return {
        "setup_s": (run.setup_s, "s"),
        "crawl_urls_per_s": (urls / wall, "1/s"),
        "round_s_p50": (statistics.median(m["wall_s"] for m in run.rounds), "s"),
        "crawl_cpu_s_per_kurl": (run.cpu_s / (urls / 1000.0), "s"),
        "state_mb_per_kurl": (state_mb_per_kurl, "MB"),
        "query_ms_p50": (
            statistics.median((t1 - t0) * 1000.0 for t0, t1 in ok), "ms"),
        "queries_per_s": (
            len(ok) / (max(t1 for _, t1 in ok) - min(t0 for t0, _ in ok)), "1/s"),
    }


def saturation(run: Run) -> dict:
    """A saturating crawl finds fewer new URLs than it schedules, so its
    frontier shrinks and later rounds do less work; no timed round may."""
    return {
        "timed_urls_scheduled": [m["urls_scheduled"] for m in run.rounds],
        "timed_new_urls": [m["new_urls"] for m in run.rounds],
        "saturated": any(m["new_urls"] < m["urls_scheduled"]
                         for m in run.rounds),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "aspseek_spark", "__init__.py")):
        _die(f"no aspseek_spark package under {ROOT}")
    if not os.path.isfile(os.path.join(ROOT, "scripts", "effective_cores.py")):
        _die("scripts/effective_cores.py is missing")
    _contain_writes()
    sys.path.insert(0, ROOT)
    import checks
    import layers

    name, wl, trace = args.workload, WORKLOADS[args.workload], bool(args.trace)
    run = Run(name, wl, args.seed, args.seconds, trace)
    run.settings = session_settings(wl, trace)
    run.id = input_id(name, wl, args.seed)
    web = ensure_web(run.id, wl, args.seed)
    cfg = crawl_config(wl, run.settings)
    expected = checks.oracle_expectation(WORK, run.id, web, cfg, N_ROUNDS)
    run.mark("inputs")

    run_dir = tempfile.mkdtemp(prefix=f"{name}_s{args.seed}_", dir=WORK)
    events_dir = os.path.join(run_dir, "events")
    os.makedirs(events_dir)
    untraced = None
    if trace:
        untraced = layers.untraced_reference(WORK, run, args.seconds)
        run.mark("untraced_reference")
    run.t_start = time.time()
    spark = build_session(run.settings, trace, events_dir)
    run.mark("session")
    tracer = layers.install(spark) if trace else None
    try:
        out = run_workload(run, spark, web, run_dir, cfg)
        if tracer is not None:
            tracer.restore()
        store = out["store"]
        app_id = spark.sparkContext.applicationId
    finally:
        stop_session(spark)
    run.mark("stop")
    checks.check_crawl(WORK, run, store, expected, N_ROUNDS)
    checks.check_search(run, out)
    seen_n = len(expected["seen"])
    state_mb = _dir_bytes(store.root) / 1e6 / (seen_n / 1000.0)
    e2e = end_to_end(run, state_mb)
    if trace:
        metrics = layers.per_layer(
            run, tracer, os.path.join(events_dir, app_id), web, store,
            out, e2e, untraced,
        )
        tracer.dump(os.path.join(WORK, "traces", f"{name}_s{args.seed}.jsonl"))
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        layers.save_untraced(WORK, run, e2e)
    shutil.rmtree(run_dir, ignore_errors=True)
    summary = {
        "workload": name, "seed": args.seed, "trace": int(trace),
        "settings": run.settings, "workload_spec": wl.__dict__,
        **saturation(run),
        "round_wall_s": [round(m["wall_s"], 3) for m in run.rounds],
        # set-up is the parts from session to ensure_init
        "parts_s": {
            part: round(t - prev, 3) for (part, t), prev in zip(
                run.marks, [run.t0] + [t for _p, t in run.marks])},
        "queries": len(run.requests),
        "query_ms_p50_each": {
            q: round(statistics.median(
                (t1 - t0) * 1000.0 for q2, t0, t1, _h in run.requests
                if q2 == q), 1)
            for q in out["distinct"] if any(r[0] == q for r in run.requests)},
        "failed_frac": len(run.failures) / max(1, run.attempted),
        "failures": run.failures[:20],
    }
    print(json.dumps(summary, default=str))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

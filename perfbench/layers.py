"""The traced run: wrap the program's layer entry points, then turn spans
and Spark event-log jobs into the per-layer metrics.

Layers are the modules a crawl round and a query go through:
``plans.crawl_loop`` (``CrawlJob.run_one``), ``plans.crawl_round``
(``run_round`` and the phases between its operator calls),
``operators.*`` (the lazy operator calls themselves), ``sources.tables``
(``StateStore`` reads and writes), ``plans.search_job`` and
``plans.searchd``.

``run_round``'s phase spans come from the call times of the operators it
invokes: a phase opens when ``schedule_round_split``, ``parse_fetched``,
``seen_filter_new`` or ``probe_add`` is called and closes at the next such
call. Those calls only build plans, so the Spark jobs between two calls are
the work of the phase in between.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import sys

import pyarrow.parquet as pq

from spans import Tracer, assign_jobs, read_event_log

# operator called by run_round → the phase that starts at its call
PHASE_AT = {
    "schedule_round_split": "crawl_round.schedule",
    "parse_fetched": "crawl_round.fetch_parse",
    "seen_filter_new": "crawl_round.seen",
    "probe_add": "crawl_round.finish",
}
# plan-building operators in crawl_round's namespace → their layer module
OPERATORS = {
    "schedule_round_split": "politeness",
    "parse_fetched": "parse",
    "with_content_digests": "parse",
    "seen_filter_new": "seen",
    "probe_add": "seen",
    "fetch_missing_robots": "robots_join",
    "robots_allow_filter": "robots_join",
    "with_canonical": "canonicalize",
}
TABLE_READS = ("read_frontier", "read_seen_bucketed", "read_probe", "read_robots")
# spans that own the jobs submitted inside them (operator spans do not:
# their jobs belong to the enclosing phase)
BOUNDARIES = {
    "crawl_loop.run_one", "crawl_round.run_round", "crawl_round.prepare",
    *PHASE_AT.values(), "tables.read", "tables.write_round",
    "tables.write_table", "search_job.add_realtime", "search_job.absorb",
    "search_job.query",
}

UNITS = {
    "crawl_loop.jobs_per_round": "count",
    "crawl_loop.stages_per_round": "count",
    "crawl_loop.tail_s": "s",
    "crawl_round.plan_s": "s",
    "crawl_round.schedule_s": "s",
    "crawl_round.schedule_jobs": "count",
    "crawl_round.fetch_parse_s": "s",
    "crawl_round.fetch_parse_task_s": "s",
    "crawl_round.seen_s": "s",
    "crawl_round.seen_jobs": "count",
    "crawl_round.shuffle_mb_per_round": "MB",
    "parse.pages_per_round": "count",
    "parse.html_mb_per_round": "MB",
    "parse.mb_per_s": "MB/s",
    "seen.candidates_per_round": "count",
    "seen.new_frac": "ratio",
    "seen.keys_per_s": "1/s",
    "tables.read_s": "s",
    "tables.write_round_s": "s",
    "tables.write_jobs": "count",
    "tables.mb_written_per_round": "MB",
    "tables.files_written_per_round": "count",
    "search_job.add_realtime_s": "s",
    "search_job.absorb_s": "s",
    "search_job.absorbs": "count",
    "search_job.query_s": "s",
    "search_job.jobs_per_query": "count",
    "search_job.qcache_hit_frac": "ratio",
    "searchd.overhead_ms": "ms",
    "trace_overhead_frac": "ratio",
}


def _listing(root: str) -> dict[str, int]:
    out = {}
    for dp, _dn, fn in os.walk(root):
        for f in fn:
            p = os.path.join(dp, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass  # removed by the snapshot GC mid-walk
    return out


def install(spark) -> Tracer:
    """Wrap the layer entry points; ``Tracer.restore`` undoes it."""
    from aspseek_spark.plans import crawl_loop, crawl_round
    from aspseek_spark.plans.search_job import SearchJob
    from aspseek_spark.sources.tables import StateStore

    tr = Tracer(spark)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    orig_run_one = crawl_loop.CrawlJob.run_one

    def run_one(self, round_id):
        before = set(tracker.getJobIdsForGroup(None))
        files0 = _listing(self.store.root)
        sp = tr.begin("crawl_loop.run_one", key=round_id)
        try:
            return orig_run_one(self, round_id)
        finally:
            tr.end(sp)
            # an absorb runs in its own job group, so the ungrouped jobs
            # are the round's own
            new = [j for j in tracker.getJobIdsForGroup(None) if j not in before]
            infos = [tracker.getJobInfo(j) for j in new]
            files1 = _listing(self.store.root)
            added = {p: s for p, s in files1.items() if files0.get(p) != s}
            sp.attrs.update(
                jobs=len(new),
                stages=sum(len(i.stageIds) for i in infos if i is not None),
                files_written=len(added),
                bytes_written=sum(added.values()),
            )

    tr.patch(crawl_loop.CrawlJob, "run_one", run_one)

    orig_run_round = crawl_loop.run_round

    def run_round(*a, **kw):
        sp = tr.begin("crawl_round.run_round")
        tr.begin("crawl_round.prepare")
        try:
            return orig_run_round(*a, **kw)
        finally:
            tr.end(sp)

    tr.patch(crawl_loop, "run_round", run_round)

    def operator(fn, op: str):
        def wrapper(*a, **kw):
            phase = PHASE_AT.get(op)
            top = tr.top()
            if phase and top is not None and top.name in (
                "crawl_round.prepare", *PHASE_AT.values()
            ):
                tr.end(top)
                tr.begin(phase)
            sp = tr.begin(f"{OPERATORS[op]}.{op}")
            try:
                return fn(*a, **kw)
            finally:
                tr.end(sp)

        return wrapper

    for op in OPERATORS:
        tr.patch(crawl_round, op, operator(getattr(crawl_round, op), op))

    for m in TABLE_READS:
        tr.patch(StateStore, m, tr.wrap(getattr(StateStore, m), "tables.read"))
    tr.patch(StateStore, "write_round",
             tr.wrap(StateStore.write_round, "tables.write_round"))
    tr.patch(StateStore, "write_table",
             tr.wrap(StateStore.write_table, "tables.write_table"))
    tr.patch(SearchJob, "add_realtime",
             tr.wrap(SearchJob.add_realtime, "search_job.add_realtime"))

    orig_merge = SearchJob.merge_realtime

    def merge_realtime(self, *a, **kw):
        sc.setJobGroup("perfbench.absorb", "realtime absorb")
        sp = tr.begin("search_job.absorb")
        try:
            return orig_merge(self, *a, **kw)
        finally:
            tr.end(sp)
            sc.setLocalProperty("spark.jobGroup.id", None)

    tr.patch(SearchJob, "merge_realtime", merge_realtime)
    # search_query returns a lazy plan that searchd collects right after, on
    # the same thread: the span keeps its job property and is extended to
    # the last of its jobs
    tr.patch(SearchJob, "search_query", tr.wrap(
        SearchJob.search_query, "search_job.query",
        key_fn=lambda a, kw: a[1], extends=True,
    ))
    return tr


# -- the untraced reference for trace_overhead_frac ------------------------------
def _results_dir(work: str, run) -> str:
    return os.path.join(work, "results", run.id.replace(f"_s{run.seed}_", "_"))


def save_untraced(work: str, run, e2e: dict) -> None:
    d = _results_dir(work, run)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"s{run.seed}.json"), "w") as f:
        json.dump({k: v for k, (v, _u) in e2e.items()}, f)


def untraced_reference(work: str, run, seconds: int) -> float:
    """Untraced round_s_p50 of this workload: this seed's last untraced run,
    else the median over the other seeds run here, else a fresh untraced
    run of this seed (a child process, finished before the traced one
    starts)."""
    d = _results_dir(work, run)
    path = os.path.join(d, f"s{run.seed}.json")
    if not os.path.exists(path):
        others = glob.glob(os.path.join(d, "s*.json"))
        if others:
            vals = []
            for p in others:
                with open(p) as f:
                    vals.append(json.load(f)["round_s_p50"])
            return statistics.median(vals)
        subprocess.run(
            [sys.executable, os.path.abspath(sys.argv[0]),
             "--workload", run.name, "--seed", str(run.seed),
             "--seconds", str(seconds), "--trace", "0"],
            check=True, stdout=subprocess.DEVNULL,
        )
    with open(path) as f:
        return json.load(f)["round_s_p50"]


# -- per-layer metrics ------------------------------------------------------------
def _html_bytes(web: str, max_doc: int) -> dict[str, int]:
    t = pq.read_table(os.path.join(web, "pages.parquet"), columns=["url", "html"])
    return {
        u: min(len(h), max_doc)
        for u, h in zip(t.column("url").to_pylist(), t.column("html").to_pylist())
        if h is not None
    }


def per_layer(run, tracer: Tracer, event_log: str, web: str, store, out: dict,
              e2e: dict, untraced_round_s: float) -> dict:
    spans = tracer.spans
    jobs = read_event_log(event_log)
    assign_jobs(jobs, spans)
    by_id = {sp.id: sp for sp in spans}

    def owner(j):
        sp = by_id.get(j.span)
        while sp is not None and sp.name not in BOUNDARIES:
            sp = by_id.get(sp.parent)
        return sp

    def ancestors(sp):
        while sp is not None:
            yield sp
            sp = by_id.get(sp.parent)

    owned: dict[int, list] = {}
    for j in jobs:
        o = owner(j)
        if o is not None:
            owned.setdefault(o.id, []).append(j)
    for sp in spans:
        sp.attrs["owned_jobs"] = [j.id for j in owned.get(sp.id, [])]

    timed = [m["round"] for m in run.rounds]
    metrics_of = {m["round"]: m for m in run.rounds}
    by_round: dict[int, dict[str, list]] = {r: {} for r in timed}
    for sp in spans:
        if sp.key in by_round and sp.end is not None:
            by_round[sp.key].setdefault(sp.name, []).append(sp)

    def one(r, name):
        s = by_round[r].get(name, [])
        return s[0] if s else None

    def dur(sp) -> float:
        return (sp.end - sp.start) if sp is not None else 0.0

    html = _html_bytes(web, out["cfg"].max_doc_size)
    rows: dict[str, list[float]] = {k: [] for k in UNITS}
    for r in timed:
        ro = one(r, "crawl_loop.run_one")
        in_round = [j for j in jobs if j.span is not None and any(
            a is ro for a in ancestors(by_id[j.span]))]
        writes = by_round[r].get("tables.write_round", [])
        phases = {p: one(r, p) for p in PHASE_AT.values()}
        rows["crawl_loop.jobs_per_round"].append(ro.attrs["jobs"])
        rows["crawl_loop.stages_per_round"].append(ro.attrs["stages"])
        rows["crawl_loop.tail_s"].append(
            ro.end - max(w.end for w in writes) if writes else 0.0)
        rows["crawl_round.plan_s"].append(sum(
            dur(sp) for n, ss in by_round[r].items()
            if n.split(".")[-1] in OPERATORS for sp in ss))
        for p, label in (("crawl_round.schedule", "schedule"),
                         ("crawl_round.seen", "seen")):
            rows[f"crawl_round.{label}_s"].append(dur(phases[p]))
            rows[f"crawl_round.{label}_jobs"].append(
                len(owned.get(phases[p].id, [])) if phases[p] else 0)
        fp = phases["crawl_round.fetch_parse"]
        rows["crawl_round.fetch_parse_s"].append(dur(fp))
        rows["crawl_round.fetch_parse_task_s"].append(
            sum(j.task_s for j in owned.get(fp.id, [])) if fp else 0.0)
        rows["crawl_round.shuffle_mb_per_round"].append(
            sum(j.shuffle_write_b for j in in_round) / 1e6)

        fetched = pq.read_table(
            store._p("fetched", r), columns=["url_canon", "status"]).to_pydict()
        parsed = [u for u, s in zip(fetched["url_canon"], fetched["status"])
                  if s != 404]
        mb = sum(html.get(u, 0) for u in parsed) / 1e6
        rows["parse.pages_per_round"].append(len(parsed))
        rows["parse.html_mb_per_round"].append(mb)
        rows["parse.mb_per_s"].append(mb / dur(fp) if fp else 0.0)

        dst = pq.read_table(store._p("links", r), columns=["dst_hash64"])
        cands = len(set(dst.column("dst_hash64").to_pylist()))
        seen_s = dur(phases["crawl_round.seen"])
        rows["seen.candidates_per_round"].append(cands)
        rows["seen.new_frac"].append(
            metrics_of[r]["new_urls"] / cands if cands else 0.0)
        rows["seen.keys_per_s"].append(cands / seen_s if seen_s else 0.0)

        rows["tables.read_s"].append(
            sum(dur(sp) for sp in by_round[r].get("tables.read", [])))
        rows["tables.write_round_s"].append(sum(dur(w) for w in writes))
        rows["tables.write_jobs"].append(sum(
            len(owned.get(sp.id, [])) for n in ("tables.write_round",
                                                 "tables.write_table")
            for sp in by_round[r].get(n, [])))
        rows["tables.mb_written_per_round"].append(ro.attrs["bytes_written"] / 1e6)
        rows["tables.files_written_per_round"].append(ro.attrs["files_written"])
        rows["search_job.add_realtime_s"].append(
            dur(one(r, "search_job.add_realtime")))
        # the round's sequential phases cannot add up to more than the round
        seq = sum(dur(sp) for sp in phases.values()) + dur(
            one(r, "crawl_round.prepare")) + sum(dur(w) for w in writes)
        run.attempted += 1
        if seq > dur(ro) + 1e-3:
            run.fail(f"round {r}: phase spans sum to {seq:.3f}s, more than "
                     f"run_one's {dur(ro):.3f}s")

    absorbs = [sp for sp in spans if sp.name == "search_job.absorb"]
    rows["search_job.absorb_s"] = [dur(sp) for sp in absorbs] or [0.0]
    rows["search_job.absorbs"] = [len(absorbs)]

    # the server-side span of each timed request: same query, started
    # while the client waited
    queries = [sp for sp in spans if sp.name == "search_job.query"]
    served, over = [], []
    for q, t0, t1, hits in run.requests:
        match = [sp for sp in queries if sp.key == q and t0 <= sp.start <= t1]
        if hits is not None and match:
            served.append(match[0])
            over.append(((t1 - t0) - dur(match[0])) * 1000.0)
    rows["search_job.query_s"] = [dur(sp) for sp in served]
    rows["search_job.jobs_per_query"] = [
        statistics.mean(len(owned.get(sp.id, [])) for sp in served)]
    rows["searchd.overhead_ms"] = over
    stats = dict(kv.split("=", 1) for kv in out["stats"].split()[1:]
                 if "=" in kv)
    hits, misses = int(stats.get("hits", 0)), int(stats.get("misses", 0))
    rows["search_job.qcache_hit_frac"] = [
        hits / (hits + misses) if hits + misses else 0.0]
    rows["trace_overhead_frac"] = [
        e2e["round_s_p50"][0] / untraced_round_s - 1.0]

    return {
        k: {"value": float(statistics.median(v)), "unit": UNITS[k]}
        for k, v in rows.items()
    }

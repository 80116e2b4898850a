"""Correctness checks, run outside the timed window.

- Crawl: fetched rows (round, sched_unix, host, url_canon, status,
  seq_in_host), the final seen set and a per-(round, URL) text hash must
  equal ``oracle.model_crawler.crawl`` on the same web, config and rounds.
- Repeatability: the per-round URL counts of a seed must equal those of
  every earlier run of that seed in this checkout.
- Search: the first result page of each distinct query, served by searchd
  from the crawl's realtime tier after the round (and, in the traced run,
  from its main index after the absorb), must equal the same page from a
  fresh ``SearchJob.build_from_fetched`` over the committed fetched table.

The oracle result is cached per seed under ``.perfbench/``. Every mismatch
is recorded as a failure of the run.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow.parquet as pq


def _md5(text) -> str | None:
    return None if text is None else hashlib.md5(text.encode("utf-8")).hexdigest()


def _load_or_build(path: str, build):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = build()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value


def oracle_expectation(work: str, run_id: str, web: str, cfg,
                       n_rounds: int) -> dict:
    from aspseek_spark.oracle.model_crawler import crawl, load_fixture_dicts

    def build() -> dict:
        pages, robots, seeds = load_fixture_dicts(web)
        res = crawl(pages, robots, seeds, cfg, n_rounds)
        return {
            "rows": sorted(
                [f.round, f.sched_unix, f.host, f.url_canon, f.status,
                 f.seq_in_host] for f in res.fetches
            ),
            "text": {f"{f.round}|{f.url_canon}": _md5(f.text)
                     for f in res.fetches},
            "seen": sorted(res.seen),
        }

    key = hashlib.md5(cfg.to_json().encode()).hexdigest()[:8]
    return _load_or_build(
        os.path.join(work, "expect", f"{run_id}_r{n_rounds}_{key}.json"), build)


def _read_rounds(root: str, table: str, upto: int, columns: list[str]):
    paths = [
        os.path.join(root, table, f"round={r}") for r in range(upto + 1)
        if os.path.isdir(os.path.join(root, table, f"round={r}"))
    ]
    return [pq.read_table(p, columns=columns) for p in paths]


def check_crawl(work: str, run, store, expected: dict, n_rounds: int) -> None:
    cols = ["round", "sched_unix", "host", "url_canon", "status",
            "seq_in_host", "text"]
    rows, text = [], {}
    for t in _read_rounds(store.root, "fetched", n_rounds, cols):
        d = t.to_pydict()
        for i in range(t.num_rows):
            rows.append([d[c][i] for c in cols[:-1]])
            text[f"{d['round'][i]}|{d['url_canon'][i]}"] = _md5(d["text"][i])
    rows.sort()
    run.attempted += 3
    if rows != expected["rows"]:
        bad = len(set(map(tuple, rows)) ^ set(map(tuple, expected["rows"])))
        run.fail(f"fetched rows differ from the oracle ({bad} rows)")
    if text != expected["text"]:
        bad = sum(text.get(k) != v for k, v in expected["text"].items())
        run.fail(f"extracted text differs from the oracle ({bad} urls)")
    seen = sorted({
        u for t in _read_rounds(store.root, "seen_delta", n_rounds, ["url_canon"])
        for u in t.column("url_canon").to_pylist()
    })
    if seen != expected["seen"]:
        run.fail(f"seen set differs from the oracle "
                 f"({len(set(seen) ^ set(expected['seen']))} urls)")

    counts = [
        [m["round"], m["urls_scheduled"], m["new_urls"], m["urls_fetched_ok"],
         m["frontier_size"]]
        for m in run.all_rounds
    ]
    path = os.path.join(work, "counts", f"{run.id}_r{n_rounds}.json")
    run.attempted += 1
    if _load_or_build(path, lambda: counts) != counts:
        run.fail("per-round URL counts differ from an earlier run of this seed")


def fresh_index(run, spark, store, distinct: list[str], n_rounds: int,
                window: int):
    """A fresh ``SearchJob.build_from_fetched`` over the committed fetched
    table, and the first page of each distinct query from it."""
    from pyspark.sql import functions as F

    from aspseek_spark.plans.search_job import SearchJob

    fresh = SearchJob(
        spark, os.path.join(os.path.dirname(store.root), "fresh_index"),
        n_buckets=run.settings["shuffle_partitions"],
    )
    fresh.build_from_fetched(store.read_fetched(n_rounds))
    pages = {
        q: [
            [int(r["doc"]), int(r["score"])]
            for r in fresh.search_query(q)
            .orderBy(F.desc("score"), F.asc("doc")).limit(window).collect()
        ]
        for q in distinct
    }
    return fresh, pages


def check_search(run, out: dict) -> None:
    expected = out["expected_search"]
    for tier, pages in out["served"].items():
        for q in out["distinct"]:
            run.attempted += 1
            if [list(x) for x in pages.get(q, [])] != expected[q]:
                run.fail(f"query {q!r}: page served from the {tier} index "
                         f"differs from a fresh build")

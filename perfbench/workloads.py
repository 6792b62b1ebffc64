"""Workloads of the crawl->publish benchmark: their inputs, the timed
operation each one repeats, and the correctness gate run after the
timed region.

Every call into the engine goes through its public surface
(``CrawlEngine``, ``parse``, ``clean``, ``publish``, ``SnapshotTable``)
in the order ``scripts/run_pipeline.py`` makes them.  The seed shifts
the crawl start date, which changes every results page's case list.
"""

from __future__ import annotations

import os
import re
import shutil
import time
from dataclasses import dataclass
from datetime import date, timedelta

START = date(2024, 7, 1)
TODAY = "07-31-2024"  # publish stamp, as scripts/run_pipeline.py
PARSING_DATE = "2024-07-31"
SAMPLE_DOCS = 12  # documents checked span-by-span against the oracle

# fields of a parsed record compared with oracle.parse_spans
PARSED_FIELDS = (
    "code", "county", "name", "case_type", "date_filed", "location",
    "related_cases", "defendant", "state", "top_charge",
    "dismissed_charges_count", "other_events", "financial", "html_hash",
)


@dataclass(frozen=True)
class Workload:
    name: str
    counties: int
    days: int
    pool_scale: int  # SPARK_GRAFT_CASE_POOL_SCALE, read once per JVM
    wave_budget: int | None  # None: unbudgeted run() to completion
    bloom_threshold: int
    setup_waves: int = 0  # ticks of the resumable crawl run in set-up
    op_s: float = 45.0  # nominal seconds per op; sets the ops per run

    def n_ops(self, seconds: float) -> int:
        """Timed ops in a run of *seconds*: a fixed count, so that the
        sample does not grow when the engine gets faster."""
        return max(1, round(seconds / self.op_s))

    @property
    def bulk(self) -> bool:
        """An op is a whole crawl -> parse -> clean -> publish; else it
        is one tick of a budgeted crawl."""
        return self.wave_budget is None


WORKLOADS = {
    # one op = unbudgeted crawl -> parse -> clean -> publish from an
    # empty base dir, the first crawl in a fresh JVM as one
    # spark-submit of scripts/run_pipeline.py is.  At this size the op
    # is mostly JVM warm-up and the fixed cost of 4 waves and the
    # parse/clean/publish jobs; per-URL work is about a fifth of it.
    # bloom_threshold is lowered so the persisted-bloom seen filter
    # runs on the results and case waves.
    "crawl_bulk": Workload(
        "crawl_bulk", counties=12, days=8, pool_scale=20,
        wave_budget=None, bloom_threshold=100,
    ),
    # one op = one run(max_waves=1) tick of a budgeted, resumable
    # crawl; the seen set stays far below the default bloom threshold.
    # The seed write and the first two ticks (portal roots, then the
    # search pages) run in set-up: the first tick in a fresh JVM pays
    # its warm-up, and every timed tick fetches a full budget of 100.
    "crawl_trickle": Workload(
        "crawl_trickle", counties=16, days=20, pool_scale=1,
        wave_budget=100, bloom_threshold=10_000, setup_waves=2, op_s=5.0,
    ),
}


class GateError(AssertionError):
    """An engine output differs from the oracle."""


def start_date(seed: int) -> date:
    return START + timedelta(days=seed % 3650)


def make_engine(spark, wl: Workload, base_dir: str, start: date):
    from indigent_defense_stats_spark import synth
    from indigent_defense_stats_spark.plans.frontier import CrawlEngine

    return CrawlEngine(
        spark,
        base_dir,
        synth.make_registry(wl.counties, n_scrape=wl.counties),
        start,
        wl.days,
        wave_budget=wl.wave_budget,
        bloom_threshold=wl.bloom_threshold,
    )


def charge_dim(spark):
    import pandas as pd

    from indigent_defense_stats_spark import synth

    return spark.createDataFrame(pd.DataFrame(synth.make_charge_dim()))


def parse_clean_publish(spark, spans, docs, dim, target_dir: str) -> dict:
    """parse (counted through an Observation) -> clean -> publish, the
    call sequence of scripts/run_pipeline.py.  Returns counts."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    from indigent_defense_stats_spark.operators import clean, parse, publish
    from indigent_defense_stats_spark.sources.catalog import SnapshotTable

    out: dict = {}
    with spans.span("parse"):
        obs = Observation("parse")
        parsed = parse.parse_documents(docs).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("parse_error").isNull(), 1).otherwise(0)).alias(
                "n_good"
            ),
        )
        good = parse.good_records(parsed)
        out["parsed_good"] = good.count()
        m = obs.get
        out["parsed"] = m["n"]
    with spans.span("clean"):
        cleaned = clean.clean_records(good, dim, parsing_date=PARSING_DATE)
        out["cleaned"] = cleaned.count()
    with spans.span("publish"):
        target = SnapshotTable(spark, target_dir, None, "append")
        inserted = publish.publish(cleaned, target, today=TODAY)
        out["inserted"] = inserted.count()
        out["history_rows"] = target.rowcount()
    out["target"] = target
    return out


class Runner:
    """Holds one run's fixture and performs its timed operations."""

    def __init__(self, spark, wl: Workload, tmp: str, start: date, spans):
        self.spark, self.wl, self.tmp, self.start = spark, wl, tmp, start
        self.spans = spans
        self.ops: list[dict] = []
        self.dim = charge_dim(spark) if wl.bulk else None
        self.engine = None
        if not wl.bulk:
            # the resumable crawl every tick advances
            self.engine = make_engine(
                spark, wl, os.path.join(tmp, "crawl"), start
            )
            for _ in range(wl.setup_waves):
                self.engine.run(max_waves=1)

    def base_dir(self) -> str:
        return self.engine.base_dir

    def op(self) -> dict:
        rec: dict = {"error": None}
        i = len(self.ops)
        if self.wl.bulk and self.engine is not None:
            # the gate checks the last op's outputs; earlier ones go
            shutil.rmtree(os.path.dirname(self.engine.base_dir))
        t0 = time.time()
        try:
            with self.spans.span("op"):
                if self.wl.bulk:
                    self._bulk_op(i, rec)
                else:
                    with self.spans.span("frontier"):
                        stats = self.engine.run(max_waves=1)
                    self._add_stats(rec, stats)
        except Exception as ex:  # an op that raises counts as failed
            rec["error"] = f"{type(ex).__name__}: {ex}"
        rec["t0"], rec["t1"] = t0, time.time()
        self.ops.append(rec)
        return rec

    def _bulk_op(self, i: int, rec: dict) -> None:
        base = os.path.join(self.tmp, f"op{i}")
        eng = make_engine(
            self.spark, self.wl, os.path.join(base, "crawl"), self.start
        )
        with self.spans.span("frontier"):
            stats = eng.run()
        self._add_stats(rec, stats)
        rec.update(parse_clean_publish(
            self.spark, self.spans, eng.documents(), self.dim,
            os.path.join(base, "published"),
        ))
        rec["t_parsed"] = self.spans.end_of_last("parse")
        self.engine = eng

    @staticmethod
    def _add_stats(rec: dict, stats) -> None:
        rec["waves"] = len(stats)
        rec["wave_ids"] = [s.wave for s in stats]
        rec["fetched"] = sum(s.fetched for s in stats)
        rec["failed"] = sum(s.failed for s in stats)
        rec["new_urls"] = sum(s.new_urls for s in stats)

    def done(self) -> bool:
        """The budgeted crawl has nothing left to fetch."""
        return bool(self.ops) and self.ops[-1].get("waves") == 0


# ---------------------------------------------------------------------------
# correctness gate
# ---------------------------------------------------------------------------

_HOST = re.compile(r"portal-(\d+)\.example")
_CASE = re.compile(r"CaseID=(\d+)")
_DATE = re.compile(r"DateFiled=(\d\d)(?:/|%2F)(\d\d)(?:/|%2F)(\d{4})")
_JO = re.compile(r"JudicialOfficer=(\d+)")


def _results_key(url: str) -> tuple[int, int, int]:
    from indigent_defense_stats_spark import synth

    i = int(_HOST.search(url).group(1))
    mm, dd, yyyy = _DATE.search(url).groups()
    jos = [j for _, j in synth.jo_list(i)]
    return i, date(int(yyyy), int(mm), int(dd)).toordinal(), jos.index(
        int(_JO.search(url).group(1))
    )


def _case_key(url: str) -> tuple[int, str]:
    return int(_HOST.search(url).group(1)), _CASE.search(url).group(1)


def _check(ok: bool, what: str) -> None:
    if not ok:
        raise GateError(what)


def gate(spark, wl: Workload, eng, start: date, last_op: dict) -> dict:
    """Check the crawl's seen set, documents and a document sample
    against the oracle; on publishing workloads also the published
    rows of the sample.  Raises GateError on the first mismatch."""
    import pyspark.sql.functions as F

    from indigent_defense_stats_spark import oracle, synth
    from indigent_defense_stats_spark.operators import parse

    log = eng.fetch_log().select("canonical_url", "status").collect()
    _check(all(r["status"] == "fetched" for r in log), "fetches failed")
    results = {
        _results_key(r["canonical_url"])
        for r in log
        if "DateFiled=" in r["canonical_url"]
    }
    if wl.bulk:
        window = {
            (i, (start + timedelta(days=d)).toordinal(), j)
            for i in range(wl.counties)
            for d in range(wl.days)
            for j in range(len(synth.jo_list(i)))
        }
        _check(results == window, "results pages fetched != window")
    # every fetched results page adds its case links to the seen set
    # at once, so the seen case URLs equal the union of their lists
    expected = {
        (i, cid) for (i, day, j) in results for cid in synth.cases_for(i, day, j)
    }
    seen_rows = [
        r["canonical_url"]
        for r in eng.seen_t.read_or_empty().select("canonical_url").collect()
        if "CaseDetail.aspx" in r["canonical_url"]
    ]
    seen = {_case_key(u) for u in seen_rows}
    _check(len(seen) == len(seen_rows), "duplicate case URLs in seen set")
    _check(seen == expected, f"seen case set {len(seen)} != {len(expected)}")

    fetched_cases = {
        _case_key(r["canonical_url"])
        for r in log
        if "CaseDetail.aspx" in r["canonical_url"]
    }
    docs = eng.documents()
    doc_rows = docs.select("doc_id", "county").collect()
    doc_ids = {(int(r["county"].replace("county", "")), r["doc_id"]) for r in doc_rows}
    _check(len(doc_ids) == len(doc_rows), "duplicate documents")
    _check(doc_ids == fetched_cases, "documents != fetched case pages")
    if wl.bulk:
        _check(doc_ids == expected, "documents != enumerated cases")
    _check(bool(doc_ids), "no documents fetched")

    # fixed sample: evenly spaced over the sorted ids
    ordered = sorted(doc_ids)
    n_sample = min(SAMPLE_DOCS, len(ordered))
    step = len(ordered) / n_sample
    sample = [ordered[int(k * step)] for k in range(n_sample)]
    sample_ids = [cid for _, cid in sample]
    sample_docs = docs.filter(F.col("doc_id").isin(sample_ids))
    got_spans = {
        r["doc_id"]: [s.asDict() for s in r["spans"]]
        for r in sample_docs.collect()
    }
    want_records = {}
    for i, cid in sample:
        url = synth.case_url(i, cid)
        html = synth.fetch(url, attempt=synth.transient_failures(url))["html"]
        want = oracle.regex_extract_spans(html)
        _check(got_spans.get(cid) == want, f"spans of case {cid}")
        want_records[cid] = oracle.parse_spans(f"county{i}", cid, want)
    parsed = {
        r["odyssey_id"]: r.asDict(recursive=True)
        for r in parse.parse_documents(sample_docs).collect()
    }
    for cid, want in want_records.items():
        got = parsed.get(cid)
        _check(got is not None and got["parse_error"] is None,
               f"parse error on case {cid}")
        for f in PARSED_FIELDS:
            _check(got[f] == want[f], f"parsed {f} of case {cid}")

    out = {"documents": len(doc_ids), "sampled": len(sample)}
    if wl.bulk:
        dim_rows = synth.make_charge_dim()
        cleaned = sorted(
            (oracle.clean_case(r, dim_rows, PARSING_DATE)
             for r in want_records.values()),
            key=lambda r: (r["case_number"], r["html_hash"]),
        )
        want_pub = {(r["id"], r["version"]) for r in oracle.publish(cleaned, [], TODAY)}
        got_pub = {
            (r["id"], r["version"])
            for r in last_op["target"].read()
            .filter(F.col("case_number").isin(sample_ids))
            .select("id", "version")
            .collect()
        }
        _check(got_pub == want_pub, "published rows of the sample")
        _check(last_op["parsed"] == len(doc_ids), "parsed count")
        _check(0 < last_op["inserted"] <= last_op["cleaned"], "inserted count")
        # clean keeps every parsed record (it only drops charges)
        _check(last_op["cleaned"] == last_op["parsed_good"], "clean count")
    return out

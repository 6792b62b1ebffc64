"""Probes run outside the timed region: storage written per table, the
seen filter's false-positive rate, the origin's cost per page, peak
memory of the process tree, and temp-directory growth."""

from __future__ import annotations

import os
import time

TMP_PATTERNS = ("spark-", "blockmgr-", "pyspark-", "ids_")
BLOOM_PROBES = 20_000  # never-seen URLs probed against the bloom state
SYNTH_SAMPLE = 60  # results pages (each with one case page) timed in synth


def tree_files(base: str) -> dict[str, int]:
    """Every regular file under *base* -> its size.  Walks nested
    snapshot directories, which catalog.parquet_dir_bytes (one flat
    directory) does not."""
    out = {}
    for root, _, names in os.walk(base):
        for n in names:
            p = os.path.join(root, n)
            if os.path.isfile(p) and not os.path.islink(p):
                out[p] = os.path.getsize(p)
    return out


def written_by_table(before: dict[str, int], after: dict[str, int], base: str):
    """Files new (or rewritten) between two walks, grouped by the table
    directory directly under *base*: {table: (bytes, files)}."""
    out: dict[str, list[int]] = {}
    for p, size in after.items():
        if before.get(p) == size:
            continue
        table = os.path.relpath(p, base).split(os.sep)[0]
        agg = out.setdefault(table, [0, 0])
        agg[0] += size
        agg[1] += 1
    return out


def bloom_fp_rate(spark, eng) -> tuple[float, int]:
    """Fraction of never-seen URLs the engine's persisted bloom state
    reports as maybe-seen, through the public bloom calls; and the
    state's size in bytes."""
    import pyspark.sql.functions as F

    from indigent_defense_stats_spark.plans import bloom

    state = eng.bloom_t.read()
    if state is None:
        return 0.0, 0
    probe_urls = spark.range(BLOOM_PROBES).select(
        F.concat(
            F.lit("http://never-seen.invalid/CaseDetail.aspx?CaseID="),
            F.col("id").cast("string"),
        ).alias("canonical_url")
    )
    hashed = bloom.with_bucket_and_hashes(probe_urls, "canonical_url", eng.n_buckets)
    fp = (
        bloom.probe(hashed, state, eng.bloom_bits)
        .agg(F.avg(F.col("maybe_seen").cast("double")).alias("fp"))
        .first()["fp"]
    )
    size = state.agg(F.sum(F.length("bits")).alias("b")).first()["b"]
    return float(fp or 0.0), int(size or 0)


def attempts_per_fetch(eng, waves: set[int]) -> float:
    import pyspark.sql.functions as F

    r = (
        eng.fetch_log()
        .filter(F.col("wave").isin(sorted(waves)))
        .agg(F.sum("attempts").alias("a"), F.count(F.lit(1)).alias("n"))
        .first()
    )
    return (r["a"] or 0) / max(r["n"] or 0, 1)


def synth_fetch_ms(start, counties: int, days: int) -> float:
    """Mean in-process cost of the synthetic origin's ``fetch`` over a
    fixed sample of results and case pages (origin cost, not engine)."""
    from datetime import timedelta

    from indigent_defense_stats_spark import synth

    urls = []
    for k in range(SYNTH_SAMPLE):
        i, d = k % counties, start + timedelta(days=k % days)
        jo_ord = k % len(synth.jo_list(i))
        urls.append(synth.results_url(i, d, synth.jo_list(i)[jo_ord][1]))
        for cid in synth.cases_for(i, d.toordinal(), jo_ord)[:1]:
            urls.append(synth.case_url(i, cid))
    t0 = time.perf_counter()
    for u in urls:
        synth.fetch(u, attempt=1)
    return (time.perf_counter() - t0) * 1e3 / len(urls)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


class PeakRss:
    """Peak resident memory of this process and all its descendants
    (the driver Python, the JVM, the Python daemon and its workers):
    each sample records every live process's VmHWM, so a worker that
    exits between samples keeps the high-water mark it last showed."""

    def __init__(self) -> None:
        self.hwm_kb: dict[tuple[int, str], int] = {}

    def sample(self) -> None:
        kids = _children()
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            todo += kids.get(pid, [])
            try:
                with open(f"/proc/{pid}/status") as f:
                    fields = dict(line.split(":", 1) for line in f if ":" in line)
            except OSError:
                continue
            if "VmHWM" in fields:
                key = (pid, fields["Name"].strip())
                self.hwm_kb[key] = int(fields["VmHWM"].split()[0])

    def total_mb(self) -> float:
        return sum(self.hwm_kb.values()) / 1024.0

    def by_name_mb(self) -> dict[str, list[float]]:
        """Process name -> every such process's peak in MB."""
        out: dict[str, list[float]] = {}
        for (_, name), kb in sorted(self.hwm_kb.items()):
            out.setdefault(name, []).append(kb / 1024.0)
        return out


def tmp_entries(tmp_dir: str) -> set[str]:
    """Names in the system temp dir that Spark, PySpark or the engine
    create, so that leftovers can be detected."""
    try:
        return {n for n in os.listdir(tmp_dir) if n.startswith(TMP_PATTERNS)}
    except OSError:
        return set()


def dir_bytes(path: str) -> int:
    return sum(tree_files(path).values()) if os.path.isdir(path) else 0

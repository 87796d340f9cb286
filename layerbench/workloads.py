"""The benchmark workloads.

Each workload gets the Spark session, a private work directory and the
seed. :meth:`prepare` makes its inputs and tables, :meth:`warm_up` runs a
few untimed operations, :meth:`round` runs one fixed unit of timed work
and returns one :class:`Op` per operation, and :meth:`finish` runs the
end-of-run output checks. All calls into the program go through the
package's public functions; the harness in ``run.py`` times them and,
in a traced run, wraps them.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import threading
import time
from dataclasses import dataclass

import gen
from oracle import Oracle, canonical, digest, pandas_rows

# Calls go through the modules, so that a traced run sees the wrapped
# functions (tracing.Tracer.install replaces module attributes).
from questdb_etl_jobs_spark import pipeline
from questdb_etl_jobs_spark.plans import designated
from questdb_etl_jobs_spark.sql import dialect
from questdb_etl_jobs_spark.streaming import file_stream
from questdb_etl_jobs_spark.schemas import PURCHASES_DESIGNATED_TS as TS


@dataclass
class Op:
    latency_s: float
    items: int
    ok: bool | None  # None: decided by finish()
    key: object = None


def parquet_files(path: str) -> tuple[int, int]:
    """Number and total bytes of the parquet files under ``path``."""
    sizes = [os.path.getsize(os.path.join(root, f))
             for root, _dirs, files in os.walk(path)
             for f in files if f.endswith(".parquet")]
    return len(sizes), sum(sizes)


def _event(f: gen.CsvFile) -> dict:
    """The storage event the reference's function receives per file."""
    return {"bucket": "layerbench", "contentType": "text/csv",
            "name": os.path.basename(f.path), "size": f.n_bytes}


# ---------------------------------------------------------------------------
# hourly_ingest
# ---------------------------------------------------------------------------

class HourlyIngest:
    """Closed loop, one client: one ``pipeline.run_batch`` per hourly CSV
    export, appended to one growing designated-ts table. A round is
    :data:`FILES_PER_ROUND` files, one per stratum of a log-uniform size
    range (300 to 1e5 rows), in seeded order."""

    name = "hourly_ingest"
    FILES_PER_ROUND = 4
    WARM_ROUNDS = 3
    #: Nominal duration of one round, which sizes the run.
    ROUND_S = 2.4
    unit = "rows"

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed

    def prepare(self) -> None:
        self.dir = self.work
        os.makedirs(os.path.join(self.dir, "in"))
        self.rng = random.Random(self.seed)
        self.catalog = gen.Catalog.make(self.rng, 3000)
        self.table = os.path.join(self.dir, "table")
        self.quarantine = os.path.join(self.dir, "quarantine")
        self.files: list[gen.CsvFile] = []
        self.next_hour = 0

    def _make_files(self, sizes: list[int]) -> list[gen.CsvFile]:
        out = []
        for n in sizes:
            hour = gen.BASE_HOUR + dt.timedelta(hours=self.next_hour)
            path = os.path.join(self.dir, "in", f"purchases_{self.next_hour:05d}.csv")
            out.append(gen.write_hourly_csv(path, self.rng, self.catalog, hour, n))
            self.next_hour += 1
        return out

    def _ingest(self, f: gen.CsvFile) -> bool:
        res = pipeline.run_batch(self.spark, _event(f), csv_path=f.path,
                                 table_path=self.table,
                                 quarantine_path=self.quarantine)
        self.files.append(f)
        self.last = res
        return (res is not None and res.rows_loaded == f.n_good
                and res.rows_quarantined == f.n_bad)

    def _count(self, counts) -> None:
        n, size = parquet_files(self.table)
        counts["plans.files_written"] += n - self.table_files[0]
        counts["plans.bytes_written"] += size - self.table_files[1]
        counts["pipeline.rows_quarantined"] += self.last.rows_quarantined
        self.table_files = (n, size)

    def warm_up(self, harness) -> None:
        """Untimed rounds: round times fall by about a quarter over the
        first three rounds after start-up, while the JVM compiles."""
        for _ in range(self.WARM_ROUNDS):
            self.round(harness)

    def round(self, harness) -> list[Op]:
        files = self._make_files(gen.ingest_sizes(self.rng, self.FILES_PER_ROUND))
        self.table_files = parquet_files(self.table)
        ops = []
        for f in files:
            op = harness.op(self.name, lambda f=f: self._ingest(f),
                            after=self._count)
            op.items = f.n_good
            ops.append(op)
        return ops

    def finish(self, harness) -> dict:
        good = sum(f.n_good for f in self.files)
        bad = sum(f.n_bad for f in self.files)
        n_table = self.spark.read.parquet(self.table).count()
        n_quar = self.spark.read.json(self.quarantine).count()
        return {
            "checks_ok": n_table == good and n_quar == bad,
            "stored_bytes_per_input_byte":
                parquet_files(self.table)[1] / sum(f.n_bytes for f in self.files),
        }


# ---------------------------------------------------------------------------
# dashboard_sql
# ---------------------------------------------------------------------------

#: (template, QuestDB-dialect text, ordered result). ``{day}`` and
#: ``{item}`` are filled per rotation entry.
DASHBOARD_QUERIES = {
    # The reference README's console query, on one day's interval.
    "interval": ("SELECT buyer, item_id, quantity, price, purchase_date "
                 "FROM purchases WHERE purchase_date IN '{day}' "
                 "ORDER BY purchase_date", True),
    "sample_by_fill": ("SELECT purchase_date, count() n, sum(quantity) qty "
                       "FROM purchases WHERE purchase_date IN '{day}' "
                       "AND item_id = {item} SAMPLE BY 1h FILL(0)", False),
    "latest_on": ("SELECT buyer, item_id, quantity, price, purchase_date "
                  "FROM purchases WHERE purchase_date IN '{day}' "
                  "LATEST ON purchase_date PARTITION BY buyer", False),
    "asof_join": ("SELECT purchase_date, buyer, item_id, quantity, list_price "
                  "FROM purchases ASOF JOIN prices ON item_id "
                  "WHERE purchase_date IN '{day}'", False),
    # Routed through the certified top-k prune.
    "topk": ("SELECT buyer, item_id, quantity, price, purchase_date "
             "FROM purchases WHERE purchase_date IN '{day}' "
             "ORDER BY price DESC, purchase_date LIMIT 25", True),
}

DESIGNATED = {"purchases": "purchase_date", "prices": "price_ts"}


class DashboardSql:
    """Closed loop, one client, reads only: a fixed, seeded rotation of
    QuestDB-dialect queries over a multi-day purchases table and a price
    table, each result fully fetched with Arrow. A round is the whole
    rotation."""

    name = "dashboard_sql"
    DAYS = 3
    ROWS_PER_HOUR = 500
    DAYS_PER_TEMPLATE = 1
    WARM_ROUNDS = 4
    ROUND_S = 1.5
    unit = "queries"

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.digests: dict[object, list] = {}

    def prepare(self) -> None:
        self.dir = self.work
        rng = random.Random(self.seed)
        catalog = gen.Catalog.make(rng, 2000)
        self.csv_bytes = 0
        os.makedirs(os.path.join(self.dir, "in"))
        for day in range(self.DAYS):
            for h in range(24):
                hour = gen.BASE_HOUR + dt.timedelta(days=day, hours=h)
                n = rng.randint(self.ROWS_PER_HOUR * 3 // 4, self.ROWS_PER_HOUR * 5 // 4)
                path = os.path.join(self.dir, "in", f"d{day}h{h:02d}.csv")
                f = gen.write_hourly_csv(path, rng, catalog, hour, n, unique_ts=True)
                self.csv_bytes += f.n_bytes
        self.prices_csv = os.path.join(self.dir, "prices.csv")
        gen.write_prices_csv(self.prices_csv, rng, self.DAYS, 6)

        days = [(gen.BASE_HOUR + dt.timedelta(days=d)).strftime("%Y-%m-%d")
                for d in range(self.DAYS)]
        self.rotation = []
        for template in DASHBOARD_QUERIES:
            for day in rng.sample(days, self.DAYS_PER_TEMPLATE):
                self.rotation.append((template, day, rng.choice(gen.ITEMS)))
        rng.shuffle(self.rotation)

    def _load(self) -> None:
        """Load the purchases table through the pipeline, one run per day
        of hourly files, and the price table as a designated-ts table."""
        self.table = os.path.join(self.dir, "purchases")
        for day in range(self.DAYS):
            event = {"bucket": "layerbench", "contentType": "text/csv",
                     "name": f"day{day}", "size": 1}
            pipeline.run_batch(
                self.spark, event,
                csv_path=os.path.join(self.dir, "in", f"d{day}h*.csv"),
                table_path=self.table,
                quarantine_path=os.path.join(self.dir, "quarantine"))
        prices = (self.spark.read.schema(
            "price_ts timestamp, item_id int, list_price int")
            .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss")
            .csv(self.prices_csv))
        self.prices_table = os.path.join(self.dir, "prices")
        designated.write_designated_ts(prices, self.prices_table, "price_ts")
        designated.register_designated_table(self.spark, "purchases", self.table)
        designated.register_designated_table(self.spark, "prices", self.prices_table)

    def _query(self, key):
        """Run one rotation entry and fetch its answer as a pandas frame."""
        template, day, item = key
        sql = DASHBOARD_QUERIES[template][0].format(day=day, item=item)
        df = dialect.questdb_sql(self.spark, sql, DESIGNATED)
        with self.harness.fetch():
            pdf = df.toPandas()
        return pdf

    def warm_up(self, harness) -> None:
        self.harness = harness
        self._load()
        # Untimed rounds: round times fall by about a fifth over the first
        # rounds after the load, while the JVM compiles.
        for _ in range(self.WARM_ROUNDS):
            for key in self.rotation:
                self._query(key)

    def round(self, harness) -> list[Op]:
        self.harness = harness
        ops = []
        for key in self.rotation:
            box = {}
            op = harness.op(self.name, lambda key=key: box.setdefault("pdf", self._query(key)))
            op.items, op.key, op.ok = 1, key, None
            ordered = DASHBOARD_QUERIES[key[0]][1]
            self.digests.setdefault(key, []).append(
                digest(canonical(pandas_rows(box["pdf"]), ordered)))
            ops.append(op)
        return ops

    def finish(self, harness) -> dict:
        oracle = Oracle(os.path.join(self.dir, "in", "*.csv"), self.prices_csv)
        try:
            expected = {}
            for key in self.digests:
                template, day, item = key
                expected[key] = digest(canonical(
                    oracle.answer(template, day, item),
                    DASHBOARD_QUERIES[template][1]))
            n_good = oracle.n_good()
        finally:
            oracle.close()
        verdict = {}
        for key, answers in self.digests.items():
            verdict[key] = [a == expected[key] for a in answers]
        n_table = self.spark.read.parquet(self.table).count()
        return {
            "verdicts": verdict,
            "checks_ok": n_table == n_good,
            "stored_bytes_per_input_byte": parquet_files(self.table)[1] / self.csv_bytes,
        }


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------

class StreamIngest:
    """Open loop: a generator thread drops hourly CSV files into the
    stream's input directory on a fixed schedule (``RATE`` files per
    second) while ``run_stream_to_table(available_now=False)`` runs
    watermark, stateful dedup, designated-ts append and quarantine. Each
    file's latency runs from its due time to the commit of the last
    micro-batch (good or quarantine query) that holds it. A round is one
    stream session of ``seconds`` worth of files."""

    name = "stream_ingest"
    #: Files per second. A file costs a data micro-batch and the no-data
    #: batch that evicts its dedup state, 0.4 to 0.8 s together on a
    #: 4-core VM, so 1.5 s apart each file meets an idle stream.
    RATE = 2 / 3
    #: One session covers the whole run.
    ROUND_S = float("inf")
    #: Rows per file, cycled and then shuffled, so the row total of a run
    #: does not depend on the seed.
    ROWS = (400, 500, 600, 700, 800)
    WARM_FILES = 4
    unit = "rows"

    def __init__(self, spark, work: str, seed: int, seconds: float):
        self.spark, self.work, self.seed = spark, work, seed
        self.n_files = max(4, round(self.RATE * seconds))
        self.sessions = 0
        self.results: list[dict] = []

    def prepare(self) -> None:
        self.dir = self.work
        os.makedirs(os.path.join(self.dir, "staging"))
        self.rng = random.Random(self.seed)
        self.catalog = gen.Catalog.make(self.rng, 2000)
        self.next_hour = 0
        sizes = [self.ROWS[i % len(self.ROWS)] for i in range(self.n_files)]
        self.rng.shuffle(sizes)
        warm = [self.ROWS[len(self.ROWS) // 2]] * self.WARM_FILES
        self.staged = [self._stage(rows) for rows in warm + sizes]

    def _stage(self, rows: int) -> tuple[gen.CsvFile, bytes]:
        hour = gen.BASE_HOUR + dt.timedelta(hours=self.next_hour)
        name = f"purchases_{self.next_hour:05d}.csv"
        self.next_hour += 1
        f = gen.write_hourly_csv(os.path.join(self.dir, "staging", name), self.rng,
                                 self.catalog, hour, rows,
                                 unique_ts=True, keep_rows=True)
        with open(f.path, "rb") as fh:
            return f, fh.read()

    def _start(self):
        s = os.path.join(self.dir, f"session{self.sessions}")
        self.sessions += 1
        self.session = s
        os.makedirs(os.path.join(s, "in"))
        self.queries = file_stream.run_stream_to_table(
            self.spark, os.path.join(s, "in"), os.path.join(s, "table"),
            os.path.join(s, "quarantine"), os.path.join(s, "ckpt"),
            available_now=False)

    def _drop(self, f: gen.CsvFile, data: bytes) -> None:
        gen._write_atomic(os.path.join(self.session, "in",
                                       os.path.basename(f.path)), data)

    def _drain(self) -> None:
        for q in self.queries:
            q.processAllAvailable()

    def _stop(self) -> None:
        for q in self.queries:
            q.stop()
        for q in self.queries:
            q.awaitTermination(60)

    def _count(self, counts) -> None:
        n, size = parquet_files(os.path.join(self.session, "table"))
        counts["plans.files_written"] += n
        counts["plans.bytes_written"] += size

    def warm_up(self, harness) -> None:
        self._start()
        for f, data in self.staged[:self.WARM_FILES]:
            self._drop(f, data)
            time.sleep(0.5)
        self._drain()
        self._stop()

    def round(self, harness) -> list[Op]:
        files = self.staged[self.WARM_FILES:]
        self._start()
        self._drain()  # the empty first batches, before the schedule starts
        due, written = [], []
        t0 = time.time() + 0.2

        def generator() -> None:
            for k, (f, data) in enumerate(files):
                t = t0 + k / self.RATE
                time.sleep(max(0.0, t - time.time()))
                self._drop(f, data)
                due.append(t)
                written.append(time.time())

        def session() -> bool:
            th = threading.Thread(target=generator, name="layerbench-generator")
            th.start()
            th.join()
            self._drain()
            self._stop()
            return True

        # A traced session is attributed batch by batch: the idle time
        # between micro-batches is the generator's, not the program's.
        harness.op(self.name, session, after=self._count,
                   windows=lambda: batch_windows(self.session, t0))
        commits = _commit_times(self.session, [f for f, _ in files])
        ops = []
        for (f, _), t_due, t_commit in zip(files, due, commits):
            ops.append(Op(latency_s=t_commit - t_due, items=f.n_good, ok=None,
                          key=os.path.basename(f.path)))
        self.results.append({
            "session": self.session, "files": [f for f, _ in files],
            "busy_s": sum(b - a for a, b in batch_windows(self.session, t0)),
            "gen_late_s": [w - d for d, w in zip(due, written)],
            "due": due, "commits": commits, "traced": harness.tracing,
        })
        return ops

    def finish(self, harness) -> dict:
        verdicts = {}
        stored = inputs = 0
        checks_ok = True
        for res in self.results:
            table = os.path.join(res["session"], "table")
            pdf = self.spark.read.parquet(table).drop(TS + "_pdate").toPandas()
            got: dict[str, list] = {}
            for row in pandas_rows(pdf[["buyer", "item_id", "quantity", "price", TS]]):
                got.setdefault(row[4].strftime("%Y%m%d%H"), []).append(row)
            for f in res["files"]:
                want = canonical([(gen.buyer_of(e), i, q, p, t)
                                  for e, i, q, p, t in f.good_rows], False)
                have = canonical(got.pop(f.hour.strftime("%Y%m%d%H"), []), False)
                verdicts.setdefault(os.path.basename(f.path), []).append(want == have)
            checks_ok &= not got  # nothing but the scheduled files
            n_bad = self.spark.read.json(os.path.join(res["session"], "quarantine")).count()
            checks_ok &= n_bad == sum(f.n_bad for f in res["files"])
            stored += parquet_files(table)[1]
            inputs += sum(f.n_bytes for f in res["files"])
        return {
            "verdicts": verdicts, "checks_ok": checks_ok,
            "stored_bytes_per_input_byte": stored / inputs,
            # Good rows per second the stream was busy, so the idle time
            # between scheduled files does not count.
            "items_per_s": sum(sum(f.n_good for f in r["files"]) for r in self.results)
            / sum(r["busy_s"] for r in self.results),
        }


def batch_windows(session: str, since: float) -> list[tuple[float, float]]:
    """The times the stream was busy after ``since``: the union, over the
    good and the quarantine query, of each micro-batch's interval from its
    offset-log entry (written when the batch is planned) to its commit-log
    entry (written when it is done), read from the checkpoint's mtimes."""
    spans = []
    for query in ("good", "bad"):
        ckpt = os.path.join(session, "ckpt", query)
        for name in os.listdir(os.path.join(ckpt, "commits")):
            if name.startswith("."):
                continue
            start = os.stat(os.path.join(ckpt, "offsets", name)).st_mtime
            if start >= since:
                spans.append((start, os.stat(os.path.join(ckpt, "commits", name)).st_mtime))
    out: list[tuple[float, float]] = []
    for a, b in sorted(spans):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def _commit_times(session: str, files: list[gen.CsvFile]) -> list[float]:
    """Per file: the latest commit time, over the good and the quarantine
    query, of the micro-batch that read it. The batch of a file comes from
    the file source's log; the commit time is the mtime of the batch's
    commit-log entry."""
    done = {os.path.basename(f.path): 0.0 for f in files}
    for query in ("good", "bad"):
        ckpt = os.path.join(session, "ckpt", query)
        batch_of = {}
        src = os.path.join(ckpt, "sources", "0")
        for name in os.listdir(src):
            if name.startswith("."):
                continue
            with open(os.path.join(src, name)) as fh:
                for line in fh:
                    line = line.strip()
                    if line.startswith("{"):
                        entry = json.loads(line)
                        batch_of[os.path.basename(entry["path"])] = entry["batchId"]
        for name in done:
            commit = os.path.join(ckpt, "commits", str(batch_of[name]))
            done[name] = max(done[name], os.stat(commit).st_mtime)
    return [done[os.path.basename(f.path)] for f in files]

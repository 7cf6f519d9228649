"""The two workloads.

Each workload generates its inputs (untimed), then sets up in a freshly
launched JVM: the first touch of its own path, plus the state its ops
need. That set-up is ``setup_s``. It then runs ops in a closed loop
with one client. An op records its own timing samples and checks its
own output; a wrong or failed op is counted, never raised.

Input sizes, and where each comes from, are listed in README.md.

- ``ingest_continue``: one ``--continue`` batch of mobile-rewards files
  per op against one warehouse that already holds a history of files.
- ``query_mix``: one query per op, analyst SQL through
  ``Warehouse.sql`` and registry builders, in a seeded order per round.
"""

from __future__ import annotations

import contextlib
import os
import random
import time
import traceback
from typing import Any, Callable, Optional

from perfbench import checks, gen

SPEEDTEST = "verified-speedtest"
MOBILE = "mobile-rewards"


def parquet_files(path: str) -> tuple[int, int]:
    """(file count, bytes) of the parquet files under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def file_ms(path: str) -> int:
    """The epoch milliseconds in a ``{prefix}.{ms}.gz`` file name."""
    return int(os.path.basename(path).rsplit(".", 2)[1])


def duck_warehouse(path: str):
    """A DuckDB connection with one view per warehouse table, over the
    same parquet files Spark reads."""
    import duckdb

    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for t in sorted(os.listdir(path)):
        if parquet_files(os.path.join(path, t))[0]:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/{t}/**/*.parquet', union_by_name = true)")
    return con


class Workload:
    name = ""
    quantum = 1  # ops per round
    round_s = 1.0  # nominal seconds per round on a shared 4-core box; sets the round count
    replay_type: Optional[str] = None  # file type the traced run replays in stages

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.inputs = os.path.join(work, "in")
        self.whs = os.path.join(work, "wh")
        os.makedirs(self.inputs, exist_ok=True)
        os.makedirs(self.whs, exist_ok=True)
        # per-sample times with the hypervisor's stolen CPU time removed
        # (``stolen_time_removed``), and as measured
        self.batch_s: list[float] = []
        self.query_s: list[float] = []
        self.batch_wall_s: list[float] = []
        self.query_wall_s: list[float] = []
        self.plan_s: list[float] = []
        self.exec_s: list[float] = []
        self.rows_returned: list[int] = []
        self.records = 0
        self.payload_bytes = 0
        self.stored_bytes = 0
        self.dropped = 0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.op_stats: dict[Any, dict[str, float]] = {}
        self.input_props: dict[str, Any] = {}
        self.last_input: Optional[gen.FileSet] = None  # what the traced run replays

    # -- hooks ------------------------------------------------------------------
    def generate(self) -> None:
        raise NotImplementedError

    def setup(self, spark) -> None:
        """Run once in a just-started session, before measuring: touch
        every path the ops take (Python workers, the shipped package,
        code generation) and build the state the ops need."""
        raise NotImplementedError

    def op(self, spark, i: int, tracer) -> None:
        raise NotImplementedError

    def finish(self, spark) -> None:
        """End-of-run checks."""

    # -- shared helpers ---------------------------------------------------------
    def outcome(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems[:3])

    def guarded(self, what: str, fn: Callable[[], list[str]]) -> None:
        try:
            problems = fn()
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            problems = [f"{what}: {type(e).__name__}: {e}".splitlines()[0]]
            traceback.print_exc()
        self.outcome(problems)

    def timed_query(self, make_df: Callable[[], Any]) -> tuple[list[str], list[tuple]]:
        t0 = time.perf_counter()
        df = make_df()
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
        self.plan_s.append(t1 - t0)
        self.exec_s.append(t2 - t1)
        self.query_s.append(t2 - t0)
        self.query_wall_s.append(t2 - t0)
        self.rows_returned.append(len(rows))
        return list(df.columns), [tuple(r) for r in rows]

    def timed_ingest(self, wh, file_type: str, directory: str, selection=None) -> dict[str, int]:
        t0 = time.perf_counter()
        out = wh.ingest(file_type, directory, selection)
        dt = time.perf_counter() - t0
        self.batch_s.append(dt)
        self.batch_wall_s.append(dt)
        return out

    @contextlib.contextmanager
    def stolen_time_removed(self):
        """Scale the batch and query times recorded inside the block by
        the share of CPU time the hypervisor did not steal meanwhile
        (``engine.unstolen_share``). The block should last seconds, so
        that the 10 ms CPU ticks resolve it."""
        from perfbench import engine

        nb, nq, t0 = len(self.batch_s), len(self.query_s), engine.cpu_ticks()
        yield
        keep = engine.unstolen_share(t0, engine.cpu_ticks())
        self.batch_s[nb:] = [t * keep for t in self.batch_s[nb:]]
        self.query_s[nq:] = [t * keep for t in self.query_s[nq:]]


def arrive(fs: gen.FileSet, directory: str) -> None:
    """Move the files of ``fs`` into ``directory``."""
    os.makedirs(directory, exist_ok=True)
    for k, path in enumerate(fs.paths):
        fs.paths[k] = os.path.join(directory, os.path.basename(path))
        os.rename(path, fs.paths[k])


def check_rows(out: dict[str, int], fs: gen.FileSet, where: str) -> list[str]:
    want = {t: truth.rows for t, truth in fs.tables.items()}
    got = {t: out.get(t, 0) for t in want}
    return checks.compare_truth(want, got, where)


def check_keys(con, fs: gen.FileSet) -> list[str]:
    """The hotspot keys stored in each table whose keys the generator
    recorded are exactly its own base58check renderings."""
    problems = []
    for t, truth in fs.tables.items():
        if truth.keys:
            got = {k for (k,) in con.sql(f"SELECT DISTINCT hotspot_key FROM {t}").fetchall()}
            if got != truth.keys:
                problems.append(f"{t}: {len(got ^ truth.keys)} hotspot keys differ from the generated ones")
    return problems


# ---------------------------------------------------------------------------
# ingest_continue
# ---------------------------------------------------------------------------
_MOBILE_SUMS = {
    "mobile_gateway_rewards": "dc_transfer_reward",
    "mobile_subscriber_rewards": "discovery_location_amount",
    "mobile_service_provider_rewards": "amount",
    "mobile_unallocated_rewards": "amount",
    "mobile_promotion_rewards": "matched_amount",
    "mobile_radio_rewards": "base_coverage_points_sum",
    "mobile_reward_trust_scores": "meters_to_asserted",
    "mobile_reward_speedtests": "upload",
    "mobile_reward_covered_hexes": "rank",
}

_TOTALS_SQL = " UNION ALL ".join(
    f"SELECT '{t}' AS t, count(*) AS n, CAST(sum({c}) AS DOUBLE) AS s FROM {t}"
    for t, c in _MOBILE_SUMS.items()
)
_PER_FILE_SQL = " UNION ALL ".join(
    f"SELECT '{t}' AS t, file_source, count(*) AS n FROM {t} GROUP BY file_source" for t in _MOBILE_SUMS
)
_CHECKPOINT_SQL = "SELECT file_name, count(*) AS n FROM files_processed GROUP BY file_name"
_RADIO_IDS_SQL = "SELECT count(*) AS n, count(DISTINCT id) AS ids FROM mobile_radio_rewards"
# the checkpoint as a user reads it after a cron run: (Spark SQL, DuckDB)
CHECKPOINT_MAX_SQL = (
    """SELECT prefix, unix_millis(max(file_timestamp)) AS last_ms, count(*) AS files
       FROM files_processed GROUP BY prefix""",
    """SELECT prefix, epoch_ms(max(file_timestamp)) AS last_ms, count(*) AS files
       FROM files_processed GROUP BY prefix""",
)


class IngestContinue(Workload):
    """Small time-ordered mobile-rewards batches, each ingested with
    ``--continue`` into one warehouse that already holds a history of
    files, then the checkpoint read back through ``Warehouse.sql``; a
    small hotspot pool."""

    name = "ingest_continue"
    replay_type = MOBILE
    round_s = 5.5
    HISTORY = 96  # files already ingested when the first batch arrives
    FILES, PER_FILE, KEY_POOL = 4, 250, 40

    def generate(self) -> None:
        self.src = os.path.join(self.inputs, "stream")
        os.makedirs(self.src)
        self.fs = gen.FileSet()  # everything written to the stream so far
        self.history = self._write(0, self.HISTORY, 20, "history")
        self.warm = self._batch(0)
        arrive(self.warm, os.path.join(self.inputs, "held"))  # held back until set-up
        self.input_props = {"history": self.history.properties()}

    def _write(self, first_file: int, files: int, per_file: int, tag: str) -> gen.FileSet:
        fs = gen.write_mobile_rewards(
            self.src,
            self.seed,
            files,
            per_file,
            self.KEY_POOL,
            first_ms=gen.T0_MS + first_file * 60_000,
            tag=tag,
        )
        self.fs.merge(fs)
        return fs

    def _batch(self, b: int) -> gen.FileSet:
        """Batch ``b`` of the stream; batch 0 is the set-up's warm batch."""
        return self._write(self.HISTORY + b * self.FILES, self.FILES, self.PER_FILE, str(b))

    def setup(self, spark) -> None:
        """The cron's earlier runs: a plain import of the history, which
        seeds the tables and the checkpoint, then one ``--continue``
        batch shaped like the measured ones, so that every path a
        measured batch takes is warm; then the checkpoint query."""
        from huckli_spark.ingest.warehouse import Warehouse
        from huckli_spark.sources.listing import FileSelection

        self.wh = Warehouse(spark, os.path.join(self.whs, "stream"))
        for what, fs, sel in (("history", self.history, None), ("warm", self.warm, FileSelection(continue_=True))):
            arrive(fs, self.src)

            def run(what=what, fs=fs, sel=sel) -> list[str]:
                return check_rows(self.wh.ingest(MOBILE, self.src, sel), fs, f"{what}.rows")

            self.guarded(what, run)
        self.wh.sql(CHECKPOINT_MAX_SQL[0]).collect()

    def op(self, spark, i: int, tracer) -> None:
        from huckli_spark.sources.listing import FileSelection

        fs = self.last_input = self._batch(i + 1)
        if i == 0:
            self.input_props["batch"] = fs.properties()
        before = parquet_files(self.wh.path)

        def run() -> list[str]:
            out = self.timed_ingest(self.wh, MOBILE, self.src, FileSelection(continue_=True))
            self.records += fs.records
            self.payload_bytes += fs.payload_bytes
            self.op_stats[i] = {"rows_out": sum(out.values())}
            problems = check_rows(out, fs, f"batch{i}.rows")
            _cols, rows = self.timed_query(lambda: self.wh.sql(CHECKPOINT_MAX_SQL[0]))
            want = [(gen.MOBILE_PREFIX, file_ms(fs.paths[-1]), len(self.fs.paths))]
            if rows != want:
                problems.append(f"batch{i}.checkpoint: {rows} != {want}")
            return problems

        self.guarded(f"batch{i}", run)
        after = parquet_files(self.wh.path)
        self.op_stats.setdefault(i, {}).update(
            {"files_written": after[0] - before[0], "bytes_written": after[1] - before[1]}
        )

    def finish(self, spark) -> None:
        """Whole-sequence checks, in DuckDB over the warehouse's parquet
        files: per-table row counts and sums, rows per file, one
        checkpoint row per file, no radio reward twice, no dropped
        frame."""
        self.payload_bytes += self.history.payload_bytes + self.warm.payload_bytes
        self.stored_bytes = parquet_files(self.wh.path)[1]
        self.dropped = self.wh.dropped_frames.value
        con = duck_warehouse(self.wh.path)

        def totals() -> list[str]:
            got = {t: {"rows": n, "sum": v} for t, n, v in con.sql(_TOTALS_SQL).fetchall()}
            problems = []
            for t, col in _MOBILE_SUMS.items():
                truth = self.fs.tables.get(t, gen.TableTruth())
                want = {"rows": truth.rows, "sum": float(truth.sums.get(col, 0))}
                problems += checks.compare_truth(want, got.get(t, {}), t)
            if self.dropped:
                problems.append(f"{self.dropped} frames dropped")
            return problems

        def per_file() -> list[str]:
            """A file ingested twice or skipped changes its row counts."""
            got: dict[str, dict[str, int]] = {}
            for t, f, n in con.sql(_PER_FILE_SQL).fetchall():
                got.setdefault(t, {})[f] = n
            problems = []
            for t in _MOBILE_SUMS:
                want = self.fs.tables.get(t, gen.TableTruth()).by_file
                if got.get(t, {}) != want:
                    problems.append(f"{t}: rows per file differ from the generated ones")
            return problems

        def checkpoint() -> list[str]:
            want = {os.path.basename(p): 1 for p in self.fs.paths}
            got = dict(con.sql(_CHECKPOINT_SQL).fetchall())
            return [] if got == want else [f"files_processed: {len(got)} files, expected {len(want)} once each"]

        def radio_ids() -> list[str]:
            n, ids = con.sql(_RADIO_IDS_SQL).fetchone()
            want = self.fs.tables["mobile_radio_rewards"].rows
            return [] if n == ids == want else [f"radio rewards: {n} rows, {ids} ids, expected {want} once each"]

        for check in (totals, per_file, checkpoint, radio_ids):
            self.guarded(check.__name__, check)
        self.guarded("keys", lambda: check_keys(con, self.fs))
        con.close()


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------
REGISTRY_QUERIES = (
    "q_group_sum",
    "q_checkpoint_max",
    "q_ts_heuristic",
    "q_demux_counts",
    "q_explode",
    "q_parent_child_join",
    "q_window_rank",
    "q_time_bucket",
    "q_topk",
    "q_asof_join",
)

# analyst SQL: (Spark SQL through Warehouse.sql, DuckDB reference)
_FILE_EPOCH = "CAST(regexp_extract(file_source, '[.]([0-9]+)[.]gz$', 1) AS BIGINT)"
ANALYST_SQL = {
    "a_hotspot_totals": (
        """SELECT hotspot_key, count(*) AS n, sum(upload_speed) AS up,
                  sum(download_speed) AS down, sum(latency) AS lat
           FROM verified_speedtest_report GROUP BY hotspot_key""",
    ),
    "a_radio_hexes": (
        """SELECT r.hotspot_key, count(*) AS hexes, sum(h.rank) AS rank_sum,
                  sum(r.base_poc_reward) AS poc
           FROM mobile_radio_rewards r JOIN mobile_reward_covered_hexes h ON r.id = h.id
           GROUP BY r.hotspot_key""",
    ),
    "a_speedtest_rank": (
        """SELECT hotspot_key, download_speed, rn FROM (
             SELECT hotspot_key, download_speed,
                    row_number() OVER (PARTITION BY hotspot_key ORDER BY download_speed DESC) AS rn
             FROM verified_speedtest_report) t
           WHERE rn <= 3""",
    ),
    "a_file_date_buckets": (
        f"""SELECT file_date, count(*) AS n, sum(upload_speed) AS up FROM (
              SELECT to_date(timestamp_millis({_FILE_EPOCH})) AS file_date, upload_speed
              FROM verified_speedtest_report) t
            GROUP BY file_date""",
        f"""SELECT file_date, count(*) AS n, sum(upload_speed) AS up FROM (
              SELECT CAST(epoch_ms({_FILE_EPOCH}) AS DATE) AS file_date, upload_speed
              FROM verified_speedtest_report) t
            GROUP BY file_date""",
    ),
    "a_radio_topk": (
        """SELECT hotspot_key, sum(base_poc_reward) AS total FROM mobile_radio_rewards
           GROUP BY hotspot_key ORDER BY total DESC, hotspot_key LIMIT 10""",
    ),
    "a_checkpoint_max": CHECKPOINT_MAX_SQL,
}

_TPCH_TABLES = ("lineitem", "orders", "part", "events", "embeddings")


class QueryMix(Workload):
    """Analyst SQL over an ingested warehouse of both file types plus the
    registry's relational queries over a TPC-H-shaped fixture."""

    name = "query_mix"
    round_s = 11.0
    ST_FILES, ST_PER_FILE, ST_POOL = 4, 1500, 2000
    MR_FILES, MR_PER_FILE, MR_POOL = 4, 1000, 200
    ORDERS = 15_000

    def generate(self) -> None:
        self.st_dir = os.path.join(self.inputs, "speedtest")
        self.mr_dir = os.path.join(self.inputs, "rewards")
        self.tpch = os.path.join(self.inputs, "tpch")
        os.makedirs(self.st_dir)
        os.makedirs(self.mr_dir)
        self.fs = gen.write_speedtests(
            self.st_dir, self.seed, self.ST_FILES, self.ST_PER_FILE, self.ST_POOL, step_ms=6 * 3_600_000
        )
        self.fs.merge(gen.write_mobile_rewards(self.mr_dir, self.seed, self.MR_FILES, self.MR_PER_FILE, self.MR_POOL))
        self.tpch_rows = gen.write_tpch(self.tpch, self.seed, orders=self.ORDERS)
        warm = os.path.join(self.inputs, "warm")
        os.makedirs(warm)
        self.warm = [
            (SPEEDTEST, gen.write_speedtests(warm, self.seed, 1, 50, 50)),
            (MOBILE, gen.write_mobile_rewards(warm, self.seed, 1, 50, 50, tag="warm")),
        ]
        self.input_props = {**self.fs.properties(), "tpch_rows": self.tpch_rows}
        self.last_input = self.fs
        self.names = sorted(ANALYST_SQL) + list(REGISTRY_QUERIES)
        self.quantum = len(self.names)
        self.results: dict[str, dict[str, tuple]] = {}  # query -> hash -> (cols, rows, times seen)

    def setup(self, spark) -> None:
        """Run every registry query once (they need no warehouse), so
        that none runs cold when measured; import one small file of each
        type into a scratch warehouse, so that the build's imports do
        not run cold either; build the warehouse from both file types;
        run one analyst query, which warms the view registration every
        analyst query starts with."""
        from huckli_spark.ingest.warehouse import Warehouse

        for name in REGISTRY_QUERIES:
            self._make(spark, name, None)().collect()
        scratch = Warehouse(spark, os.path.join(self.whs, "warm"))
        for file_type, fs in self.warm:
            self.guarded(
                f"warm.{file_type}",
                lambda t=file_type, fs=fs: check_rows(scratch.ingest(t, os.path.dirname(fs.paths[0])), fs, "warm.rows"),
            )
        self.wh = Warehouse(spark, os.path.join(self.whs, "mix"))
        with self.stolen_time_removed():
            out = self.timed_ingest(self.wh, SPEEDTEST, self.st_dir)
        with self.stolen_time_removed():
            out.update(self.timed_ingest(self.wh, MOBILE, self.mr_dir))
        self.records = self.fs.records
        self.payload_bytes = self.fs.payload_bytes
        files, self.stored_bytes = parquet_files(self.wh.path)
        self.op_stats["build"] = {
            "rows_out": sum(out.values()),
            "files_written": files,
            "bytes_written": self.stored_bytes,
        }
        self.guarded("build.rows", lambda: check_rows(out, self.fs, "build.rows"))
        self._make(spark, "a_radio_hexes", None)().collect()

    def _make(self, spark, name: str, tracer) -> Callable[[], Any]:
        """The call that plans query ``name`` and returns its lazy DataFrame."""
        from huckli_spark.queries import all_queries

        if name in ANALYST_SQL:
            return lambda: self.wh.sql(ANALYST_SQL[name][0])
        spec = all_queries()[name]

        def make():
            with tracer.span("queries", name) if tracer else contextlib.nullcontext():
                return spec.build(spark, self.tpch)

        return make

    def op(self, spark, i: int, tracer) -> None:
        rnd, pos = divmod(i, self.quantum)
        order = list(self.names)
        random.Random(f"{self.seed}:{rnd}").shuffle(order)
        name = order[pos]
        try:
            cols, rows = self.timed_query(self._make(spark, name, tracer))
        except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
            traceback.print_exc()
            self.outcome([f"{name}: {type(e).__name__}: {e}".splitlines()[0]])
            return
        seen = self.results.setdefault(name, {})
        h = checks.result_hash(cols, rows)
        c, r, n = seen.get(h, (cols, rows, 0))
        seen[h] = (c, r, n + 1)

    def finish(self, spark) -> None:
        """Every distinct answer each query gave must match DuckDB's on
        the same parquet files; a wrong answer fails every op that
        returned it."""
        import duckdb

        from huckli_spark.queries import all_queries

        con = duckdb.connect()
        con.sql("SET TimeZone = 'UTC'")
        for t in _TPCH_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.tpch}/{t}.parquet')")
        wh_con = duck_warehouse(self.wh.path)
        self.guarded("build.sums", lambda: self._check_build(wh_con))
        self.guarded("build.keys", lambda: check_keys(wh_con, self.fs))
        for name, seen in self.results.items():
            try:
                if name in ANALYST_SQL:
                    ref = wh_con.sql(ANALYST_SQL[name][-1])
                else:
                    ref = con.sql(all_queries()[name].oracle)
                want_cols, want_rows = list(ref.columns), ref.fetchall()
            except duckdb.Error as e:  # no reference: every answer counts as unchecked
                want_cols, want_rows = [f"reference failed: {e}".splitlines()[0]], []
            for cols, rows, n in seen.values():
                problems = checks.compare_results(cols, rows, want_cols, want_rows, name)
                for _ in range(n):
                    self.outcome(problems)
        con.close()
        wh_con.close()

    def _check_build(self, con) -> list[str]:
        """The warehouse the queries run on holds what was generated."""
        problems = []
        for t, truth in self.fs.tables.items():
            col = _MOBILE_SUMS.get(t, "upload_speed")
            n, s = con.sql(f"SELECT count(*), sum({col}) FROM {t}").fetchone()
            want = {"rows": truth.rows, "sum": float(truth.sums.get(col, 0))}
            problems += checks.compare_truth(want, {"rows": n, "sum": float(s or 0)}, f"build.{t}")
        return problems


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (IngestContinue, QueryMix)
}

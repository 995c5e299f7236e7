"""The workloads: what one run does, what set-up builds, how a run's
output is checked, and the per-layer readings only a workload can make.

A run is one ``DbCopier.run``; runs are issued one after another by a
single client (closed loop). The registry's headline queries are timed
per query in the traced run of ``pg_upsert_copy`` (``HeadlineQueries``).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import replace

import pyarrow.parquet as pq

import checks
import specs as S
from simple_anonymizer_spark.functions import lens as lens_mod
from simple_anonymizer_spark.functions import pyimpl
from simple_anonymizer_spark.plans import compiler
from simple_anonymizer_spark.plans.db_copier import DbCopier
from simple_anonymizer_spark.plans.output_column import SourceColumn, TransformedColumn
from simple_anonymizer_spark.plans.table_sorter import sort_tables
from simple_anonymizer_spark.sources import jdbc
from simple_anonymizer_spark.sources.catalog import quote_identifier as q
from simple_anonymizer_spark.sources.parquet import parquet_reader, parquet_writer


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class CopyWorkload:
    """One ``DbCopier.run`` per run, from the generated parquet files into
    a parquet sink. ``prepare`` (untimed, before Spark) computes the
    reference results; ``setup`` (timed) builds what a run needs from a
    session; ``reset`` (untimed) clears the sink before each run; ``run`` is
    the timed part; ``check`` (untimed) returns the problems found in the
    run's output; ``rows_written`` is the last run's row count."""

    plan_name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = None
        self.out_dir = os.path.join(ctx.work, "sink")
        self.digest = None

    def server_pid(self) -> int | None:
        """The PostgreSQL server's pid, for workloads that have one."""
        return None

    def close(self) -> None:
        pass

    def prepare(self) -> None:
        plan = self.ref_plan = S.PLANS[self.plan_name](self.ctx.filters)
        self.duck = checks.source_db(self.ctx.data, plan.tables)
        self.want = checks.reference_counts(self.duck, plan)
        self.source_rows = {t: pq.ParquetFile(os.path.join(self.ctx.data, f"{t}.parquet"))
                            .metadata.num_rows for t in plan.tables}

    def setup(self, spark) -> None:
        """Session-dependent set-up: catalog, specs and the reader; the
        source frames are read by each run."""
        self.spark = spark
        self.plan = S.PLANS[self.plan_name](self.ctx.filters)
        self.specs = {t: (s.where(self.plan.explicit[t]) if t in self.plan.explicit else s)
                      for t, s in self.plan.specs.items()}
        self.reader = parquet_reader(spark, self.ctx.data)
        self.levels = sort_tables(list(self.plan.tables), list(self.plan.catalog.foreign_keys))

    def writer(self):
        return parquet_writer(self.spark, self.out_dir)

    def reset(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)

    @property
    def rows_written(self) -> int:
        return sum(self.counts.values())

    def run(self, tracer=None) -> None:
        reader, writer = self.reader, self.writer()
        if tracer is not None:
            reader = tracer.wrap("source.read_table", reader)
            writer = tracer.wrap("sink.write_table", writer)
        self.counts = DbCopier(self.plan.catalog, reader, writer).run(self.specs)

    def check(self) -> list[str]:
        problems = checks.check_counts(self.counts, self.want)
        sink_problems, digest = checks.check_parquet_sink(
            self.duck, self.out_dir, self.plan, self.want, S.CHANGED)
        problems += sink_problems
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            problems.append("anonymized columns differ from the first run")
        return problems

    def kept_ratio(self) -> float:
        return sum(self.want.values()) / sum(self.source_rows.values())

    def sink_files_bytes(self) -> tuple[int, int]:
        files = [os.path.join(d, f) for d, _, fs in os.walk(self.out_dir)
                 for f in fs if f.endswith(".parquet")]
        return len(files), sum(os.path.getsize(f) for f in files)

    def query_probe(self) -> tuple[dict[str, float], list[str]]:
        """Per-query times and problems of the registry probe, for the
        workload that carries it."""
        return {}, []

    def anon_probe(self, repeats: int = 2) -> tuple[float, float]:
        """(native extra s, pandas extra s): per table, the noop write of
        the projection with only native (resp. only pandas-path)
        transforms, minus the noop write of the passthrough projection,
        on the same frames; best of ``repeats`` after one warm-up each."""
        native_extra = pandas_extra = 0.0
        for t in self.plan.tables:
            spec = self.plan.specs[t]
            cols = spec.columns
            native = [_is_native(c) for c in cols]
            df = self.reader(t)
            variants = {"pass": [SourceColumn(c.name) for c in cols]}
            if any(n is True for n in native):
                variants["native"] = [c if n is True else SourceColumn(c.name)
                                      for c, n in zip(cols, native)]
            if any(n is False for n in native):
                variants["pandas"] = [c if n is False else SourceColumn(c.name)
                                      for c, n in zip(cols, native)]
            if len(variants) == 1:
                continue
            best = {}
            for name, vcols in variants.items():
                frame = compiler.apply_spec(df, replace(spec, columns=tuple(vcols),
                                                        where_clause=None))
                _noop(frame)
                times = []
                for _ in range(repeats):
                    t0 = time.perf_counter()
                    _noop(frame)
                    times.append(time.perf_counter() - t0)
                best[name] = min(times)
            native_extra += best.get("native", best["pass"]) - best["pass"]
            pandas_extra += best.get("pandas", best["pass"]) - best["pass"]
        return native_extra, pandas_extra


def _is_native(col) -> bool | None:
    """True: compiles to a native expression; False: pandas/Arrow path;
    None: not transformed."""
    if not isinstance(col, TransformedColumn):
        return None
    return (isinstance(col.transform, str) and isinstance(col.lens, lens_mod.Direct)
            and not col.opt)


class SubsetCopy(CopyWorkload):
    plan_name = "subset_copy"
    # A warm run's wall time on the 4-core reference box: the timed window
    # holds --seconds / typical_run_s runs (see run.Runner.window).
    typical_run_s = 6.5


PG_DDL = [
    "CREATE TABLE region (r_regionkey integer PRIMARY KEY, r_name text)",
    "CREATE TABLE nation (n_nationkey integer PRIMARY KEY, n_name text, "
    "n_regionkey integer CONSTRAINT nation_region_fk REFERENCES region)",
    "CREATE TABLE customer (c_custkey bigint PRIMARY KEY, c_name text, "
    "c_nationkey integer CONSTRAINT customer_nation_fk REFERENCES nation, "
    "c_acctbal double precision, c_mktsegment text, c_address text, c_phone text)",
    "CREATE TABLE orders (o_orderkey bigint PRIMARY KEY, o_custkey bigint "
    "CONSTRAINT orders_customer_fk REFERENCES customer, o_orderstatus text, "
    "o_totalprice double precision, o_orderdate timestamp, o_orderpriority text)",
    "CREATE TABLE team (t_id bigserial PRIMARY KEY, t_parent bigint "
    "CONSTRAINT team_parent_fk REFERENCES team, t_name text, t_code integer)",
]
OLD = "OLD#"


class PgUpsertCopy(CopyWorkload):
    """Parquet source, live PostgreSQL target through ``write_jdbc``."""

    plan_name = "pg_upsert_copy"
    typical_run_s = 5.2

    def prepare(self) -> None:
        super().prepare()
        import pg

        self.pg = pg.PgServer(os.path.join(self.ctx.work, "pg")).start()
        self.pg.admin(*PG_DDL)
        self.connect = self.pg.connect_factory()
        self.copied = {t: checks.reference_keys(self.duck, self.ref_plan, t)
                       for t in ("customer", "orders", "team")}
        self.preload = self._preload_rows()
        if self.ctx.trace:
            self.headline = HeadlineQueries(self.ctx.data)
            self.headline.prepare()

    def query_probe(self) -> tuple[dict[str, float], list[str]]:
        return self.headline.probe(self.spark)

    def _preload_rows(self) -> dict[str, list[tuple]]:
        """An FK-closed target state that overlaps the run's subset: every
        region and nation, every third customer with a third of its
        orders, and the top two team levels, all with marked old values."""
        d = self.duck
        return {
            "region": d.execute(f"SELECT r_regionkey, '{OLD}' || r_name FROM region").fetchall(),
            "nation": d.execute(
                f"SELECT n_nationkey, '{OLD}' || n_name, n_regionkey FROM nation").fetchall(),
            "customer": d.execute(
                f"SELECT c_custkey, '{OLD}' || c_name, c_nationkey, c_acctbal, c_mktsegment, "
                "c_address, c_phone FROM customer WHERE c_custkey % 3 = 0").fetchall(),
            "orders": d.execute(
                "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), o_orderpriority FROM orders "
                "WHERE o_custkey % 3 = 0 AND o_orderkey % 3 = 0").fetchall(),
            "team": d.execute(
                f"SELECT t_id, t_parent, '{OLD}' || t_name, t_code FROM team WHERE "
                "t_parent IS NULL OR t_parent IN (SELECT t_id FROM team "
                "WHERE t_parent IS NULL)").fetchall(),
        }

    def reset(self) -> None:
        conn = self.connect()
        try:
            cur = conn.cursor()
            cur.execute("TRUNCATE region, nation, customer, orders, team")
            cur.execute("ALTER SEQUENCE team_t_id_seq RESTART WITH 1")
            for t in ("region", "nation", "customer", "orders"):
                conn.copy_in(t, S.COLUMNS[t], self.preload[t])
            # parents before children: roots first
            team = sorted(self.preload["team"], key=lambda r: r[1] is not None)
            conn.copy_in("team", S.COLUMNS["team"], team)
            conn.commit()
        finally:
            conn.close()

    def writer(self):
        """``write_jdbc`` returns no count and ``DbCopier`` needs one, so the
        writer counts the frame: one more Spark job per table."""
        catalog, specs, connect = self.plan.catalog, self.plan.specs, self.connect

        def write(name, df) -> int:
            spec = specs[name]
            jdbc.write_jdbc(df, connect, name, on_conflict=spec.on_conflict,
                            primary_key=sorted(catalog.primary_keys[name]),
                            batch_size=spec.batch_size, catalog=catalog)
            return df.count()

        return write

    def check(self) -> list[str]:
        problems = checks.check_counts(self.counts, self.want)
        pg_ = self.pg
        for t, key in (("customer", "c_custkey"), ("orders", "o_orderkey"),
                       ("team", "t_id")):
            have = {r[0] for r in pg_.query(f"SELECT {q(key)} FROM {q(t)}")}
            want = self.copied[t] | {r[0] for r in self.preload[t]}
            if have != want:
                problems.append(f"pg {t}: {len(have ^ want)} keys differ from "
                                "preload ∪ copied")
        for t, key, col in (("customer", "c_custkey", "c_name"), ("team", "t_id", "t_name")):
            rows = pg_.query(f"SELECT {q(key)}, {q(col)} FROM {q(t)} "
                             f"WHERE {q(col)} LIKE '{OLD}%'")
            stale = [k for k, _ in rows if k in self.copied[t]]
            if stale:
                problems.append(f"pg {t}: {len(stale)} upserted rows kept old values")
        sample = sorted(self.copied["customer"])[:25]
        if sample:
            src = dict(self.duck.execute(
                "SELECT c_custkey, c_name FROM customer WHERE c_custkey IN "
                f"({', '.join(map(str, sample))})").fetchall())
            got = dict(pg_.query(
                "SELECT c_custkey, c_name FROM customer WHERE c_custkey IN "
                f"({', '.join(map(str, sample))})"))
            bad = [k for k in sample if got.get(k) != pyimpl.full_name(src[k])]
            if bad:
                problems.append(f"pg customer: {len(bad)} names differ from full_name")
        last, called = pg_.query("SELECT last_value, is_called FROM team_t_id_seq")[0]
        top = pg_.query("SELECT max(t_id) FROM team")[0][0]
        if called or int(last) != int(top) + 1:
            problems.append(f"team_t_id_seq at {last} (called={called}), max id {top}")
        dangling = pg_.query(
            "SELECT (SELECT count(*) FROM orders o WHERE NOT EXISTS "
            "(SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) + "
            "(SELECT count(*) FROM team t WHERE t.t_parent IS NOT NULL AND NOT EXISTS "
            "(SELECT 1 FROM team p WHERE p.t_id = t.t_parent))")[0][0]
        if int(dangling):
            problems.append(f"pg: {dangling} dangling foreign keys")
        return problems

    def sink_files_bytes(self) -> tuple[int, int]:
        size = self.pg.query(
            "SELECT sum(pg_total_relation_size(c.oid)) FROM pg_class c "
            "WHERE c.relname IN ('region', 'nation', 'customer', 'orders', 'team')")[0][0]
        return 0, int(size)

    def stats(self) -> dict[str, float]:
        """Cumulative INSERT statement calls/rows/time and commits, read in
        one statement (so the read itself is one transaction)."""
        calls, rows, ms, commits = self.pg.query(
            "SELECT coalesce(sum(calls), 0), coalesce(sum(rows), 0), "
            "coalesce(sum(total_exec_time), 0), (SELECT xact_commit FROM "
            "pg_stat_database WHERE datname = 'postgres') FROM pg_stat_statements "
            "WHERE query LIKE 'INSERT INTO%'")[0]
        return {"statements": float(calls), "rows": float(rows),
                "exec_s": float(ms) / 1e3, "commits": float(commits)}

    def server_pid(self) -> int | None:
        return self.pg.pid

    def close(self) -> None:
        if getattr(self, "pg", None) is not None:
            self.pg.stop()


# bench.py's HEADLINE queries, one per operator family, whose warm times
# on the generated inputs sum to about 4 s; the rest of HEADLINE adds
# ~50 s per run, and the embedding queries need a table not generated here.
HEADLINE = [
    "q1_pricing_summary",      # grouped aggregate
    "q3_shipping_priority",    # join + top-k
    "window_top_orders",       # window
    "events_sessionize",       # session windows
    "dedup_exact",             # exact dedup
    "dedup_simhash",           # near-dup sketch
]


class HeadlineQueries:
    """The ``HEADLINE`` queries through ``QUERIES[name]`` on the generated
    inputs, timed per query by ``probe``. ``prepare`` (untimed, before
    Spark) runs the registry's DuckDB oracle for each."""

    TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents"]

    def __init__(self, data: str):
        self.data = data

    def prepare(self) -> None:
        from __spark_entry__ import oracle_sql

        duck = checks.source_db(self.data, self.TABLES)
        sql = oracle_sql()
        self.oracle = {n: checks.oracle_rows(duck, sql[n]) for n in HEADLINE}

    def _execute(self, spark, name: str, collect: bool):
        """Runs one query with an ``Observation`` (row count and order-free
        checksum); returns (sorted columns, rows or None) and the observed
        (count, checksum)."""
        from pyspark.sql import Observation

        from simple_anonymizer_spark.queries import QUERIES

        df = QUERIES[name](spark, self.data)
        obs = Observation(name)
        df = df.observe(obs, *checks.observed_digest(df.columns))
        rows = [r.asDict() for r in df.collect()] if collect else _noop(df)
        got = obs.get
        return (sorted(df.columns), rows), (got["rows"], got["digest"])

    def probe(self, spark, repeats: int = 3) -> tuple[dict[str, float], list[str]]:
        """One pass collects every query's rows, which must equal the
        oracle's (compared as the registry's oracle test does); then
        ``repeats`` passes write each query to the noop sink, and each
        pass's count and checksum must equal the collected pass's. Returns
        ``query.<name>_s`` (median over the timed passes) and the problems
        found."""
        problems, first = [], {}
        times: dict[str, list[float]] = {n: [] for n in HEADLINE}
        for n in HEADLINE:
            (cols, rows), first[n] = self._execute(spark, n, collect=True)
            want_cols, want = self.oracle[n]
            if cols != want_cols:
                problems.append(f"{n}: columns {cols}, oracle {want_cols}")
            elif checks.normalized(rows, cols) != want:
                problems.append(f"{n}: rows differ from the DuckDB oracle")
        for _ in range(repeats):
            for n in HEADLINE:
                t0 = time.perf_counter()
                _, seen = self._execute(spark, n, collect=False)
                times[n].append(time.perf_counter() - t0)
                if seen != first[n]:
                    problems.append(f"{n}: checksum differs from the collected pass")
        return {f"query.{n}_s": statistics.median(ts) for n, ts in times.items()}, problems


WORKLOADS = {
    "subset_copy": SubsetCopy,
    "pg_upsert_copy": PgUpsertCopy,
}

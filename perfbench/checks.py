"""Output checks, run with DuckDB over the generated inputs and the sinks.

* Reference row counts and key sets come from the reference SQL form of the
  subsetting (``propagation.compute_propagated_filters``: ``IN``
  subqueries and ``WITH RECURSIVE`` closures) run by DuckDB over the same
  parquet files the copier read.
* A parquet sink must hold exactly those counts, unique PKs, no dangling
  FK, and anonymized columns that differ from the source in every row.
  A digest of the anonymized columns lets runs be compared.
* Registry query results are compared with the registry's DuckDB oracle
  the way its oracle test compares them (order-free, floats exact).

Each check returns a list of problems; an empty list means it passed.
"""

from __future__ import annotations

import math
import os

import duckdb

from simple_anonymizer_spark.plans.propagation import compute_propagated_filters
from simple_anonymizer_spark.plans.table_sorter import sort_tables
from simple_anonymizer_spark.plans.table_spec import WhereClause
from simple_anonymizer_spark.sources.catalog import quote_identifier as q


def source_db(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {q(t)} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    return con


def reference_where(plan) -> dict[str, str]:
    """Per table, the full WHERE (explicit AND propagated) in SQL form."""
    fks = list(plan.catalog.foreign_keys)
    order = [t for level in sort_tables(list(plan.tables), fks) for t in level]
    explicit = {t: WhereClause.single(sql) for t, sql in plan.explicit.items()}
    propagated = compute_propagated_filters(order, fks, explicit)
    out = {}
    for t in plan.tables:
        clause = explicit.get(t)
        if t in propagated:
            clause = propagated[t] if clause is None else clause.and_(propagated[t])
        out[t] = clause.render() if clause is not None else "TRUE"
    return out


def reference_counts(con, plan) -> dict[str, int]:
    return {t: con.execute(f"SELECT count(*) FROM {q(t)} WHERE {w}").fetchone()[0]
            for t, w in reference_where(plan).items()}


def reference_keys(con, plan, table: str) -> set:
    pk = sorted(plan.catalog.primary_keys[table])
    where = reference_where(plan)[table]
    return {r if len(r) > 1 else r[0] for r in con.execute(
        f"SELECT {', '.join(map(q, pk))} FROM {q(table)} WHERE {where}").fetchall()}


def check_counts(got: dict[str, int], want: dict[str, int]) -> list[str]:
    return [f"{t}: copied {got.get(t)} rows, reference {n}"
            for t, n in want.items() if got.get(t) != n]


def _sink_view(con, out_dir: str, table: str) -> str:
    name = f"out_{table}"
    con.execute(f"CREATE OR REPLACE VIEW {q(name)} AS SELECT * FROM "
                f"read_parquet('{os.path.join(out_dir, table)}/*.parquet')")
    return q(name)


def check_parquet_sink(con, out_dir: str, plan, want: dict[str, int],
                       changed: dict[str, list[str]]) -> tuple[list[str], int]:
    """Counts, PK uniqueness, FK integrity and anonymization of every table
    in a parquet sink. Returns (problems, digest of anonymized columns)."""
    problems, digest = [], 0
    views = {t: _sink_view(con, out_dir, t) for t in plan.tables}
    for t in plan.tables:
        v = views[t]
        pk = ", ".join(map(q, sorted(plan.catalog.primary_keys[t])))
        n, distinct = con.execute(
            f"SELECT count(*), count(DISTINCT ({pk})) FROM {v}").fetchone()
        if n != want[t]:
            problems.append(f"{t}: sink holds {n} rows, reference {want[t]}")
        if distinct != n:
            problems.append(f"{t}: {n - distinct} duplicate primary keys")
        anon = plan.anonymized(t)
        if anon:
            cols = ", ".join([pk] + [q(c) for c in anon])
            digest ^= con.execute(
                f"SELECT coalesce(sum(hash({cols})), 0) FROM {v}").fetchone()[0]
        for c in changed.get(t, []):
            if c not in anon:
                continue
            join = " AND ".join(f"o.{q(k)} = s.{q(k)}"
                                for k in sorted(plan.catalog.primary_keys[t]))
            same = con.execute(
                f"SELECT count(*) FROM {v} o JOIN {q(t)} s ON {join} "
                f"WHERE o.{q(c)} = s.{q(c)}").fetchone()[0]
            if same:
                problems.append(f"{t}.{c}: {same} rows equal to the source")
    for fk in plan.catalog.foreign_keys:
        child, parent = views[fk.fk_table], views[fk.pk_table]
        on = " AND ".join(f"c.{q(f)} = p.{q(p)}"
                          for f, p in zip(fk.fk_columns, fk.pk_columns))
        not_null = " AND ".join(f"c.{q(f)} IS NOT NULL" for f in fk.fk_columns)
        dangling = con.execute(
            f"SELECT count(*) FROM {child} c WHERE {not_null} AND NOT EXISTS "
            f"(SELECT 1 FROM {parent} p WHERE {on})").fetchone()[0]
        if dangling:
            problems.append(f"{fk.name}: {dangling} dangling foreign keys")
    return problems, digest


def normalized(rows: list[dict], columns: list[str]) -> list[tuple]:
    """Order-free form of query rows, as the registry's oracle test
    compares them: floats at full round-trip precision, booleans as 0/1."""
    out = []
    for row in rows:
        vals = []
        for c in columns:
            v = row[c]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else repr(v)
            elif isinstance(v, bool):
                v = int(v)
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def oracle_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    """(sorted column names, normalized rows) of a DuckDB oracle query."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    key = sorted(cols)
    return key, normalized([dict(zip(cols, r)) for r in cur.fetchall()], key)


def observed_digest(columns: list[str]) -> list:
    """Aggregates for ``DataFrame.observe``: the row count and an
    order-free checksum of the rows, computed while the query runs."""
    from pyspark.sql import functions as F

    row = F.to_json(F.struct(*[F.col(f"`{c}`") for c in columns]))
    return [F.count(F.lit(1)).alias("rows"),
            F.sum(F.pmod(F.xxhash64(row), F.lit(1_000_000_007))).alias("digest")]

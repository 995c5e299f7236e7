"""Catalogs, copy specs and seeded filters for the copy workloads.

Each copy workload is a ``Plan``: the tables it copies, a declared catalog
(PKs, FKs, sequences), one ``TableSpec`` per table and the explicit WHERE
fragments. Filters are plain SQL that Spark and DuckDB both accept, so the
checks can run the reference SQL form of the same subsetting in DuckDB.
"""

from __future__ import annotations

from dataclasses import dataclass

from simple_anonymizer_spark.functions import lens as lens_mod
from simple_anonymizer_spark.plans.on_conflict import OnConflict
from simple_anonymizer_spark.plans.output_column import SourceColumn, TransformedColumn
from simple_anonymizer_spark.plans.table_spec import TableSpec
from simple_anonymizer_spark.sources.catalog import Catalog, LogicalFK, SequenceInfo

COLUMNS = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment", "c_address", "c_phone"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "org_unit": ["h_id", "h_parent", "h_name", "h_code"],
    "team": ["t_id", "t_parent", "t_name", "t_code"],
}
PRIMARY_KEYS = {
    "region": ["r_regionkey"], "nation": ["n_nationkey"],
    "customer": ["c_custkey"], "supplier": ["s_suppkey"],
    "part": ["p_partkey"], "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"], "events": ["event_id"],
    "documents": ["doc_id"], "org_unit": ["h_id"], "team": ["t_id"],
}
FOREIGN_KEYS = [
    LogicalFK("nation_region_fk", "nation", "region", (("n_regionkey", "r_regionkey"),)),
    LogicalFK("customer_nation_fk", "customer", "nation", (("c_nationkey", "n_nationkey"),)),
    LogicalFK("supplier_nation_fk", "supplier", "nation", (("s_nationkey", "n_nationkey"),)),
    LogicalFK("orders_customer_fk", "orders", "customer", (("o_custkey", "c_custkey"),)),
    LogicalFK("lineitem_orders_fk", "lineitem", "orders", (("l_orderkey", "o_orderkey"),)),
    LogicalFK("lineitem_part_fk", "lineitem", "part", (("l_partkey", "p_partkey"),)),
    LogicalFK("lineitem_supplier_fk", "lineitem", "supplier", (("l_suppkey", "s_suppkey"),)),
    LogicalFK("org_unit_parent_fk", "org_unit", "org_unit", (("h_parent", "h_id"),)),
    LogicalFK("team_parent_fk", "team", "team", (("t_parent", "t_id"),)),
]
TEAM_SEQUENCE = SequenceInfo("team", "t_id", "team_t_id_seq")

# Native anonymizers on the name, address and phone columns.
PII = {
    "region": {}, "nation": {}, "supplier": {"s_name": "full_name"},
    "customer": {"c_name": "full_name", "c_address": "street_address",
                 "c_phone": "phone_number"},
    "part": {}, "orders": {}, "lineitem": {},
    "org_unit": {"h_name": "last_name"}, "team": {"t_name": "last_name"},
}
# Unfiltered tables with no foreign key: every string column anonymized,
# ``props`` through a JSON lens and ``text`` through a Python callable (the
# pandas/Arrow path), both added by ``subset_copy``.
UNFILTERED = {
    "events": {"event_type": "lorem_text"},
    "documents": {"lang": "redact", "source": "city"},
}


def scramble_words(text: str) -> str:
    """The user callable on ``documents.text`` (pandas/Arrow path): every
    word reversed, order kept."""
    return " ".join(w[::-1] + "x" for w in text.split(" "))


def email_callable(value: str) -> str:
    """The user callable applied through the JSON lens on
    ``events.props.email``."""
    from simple_anonymizer_spark.functions.pyimpl import email

    return email(value)


# Columns whose values must differ from the source in every copied row.
CHANGED = {
    "customer": ["c_name", "c_address", "c_phone"],
    "supplier": ["s_name"],
    "org_unit": ["h_name"],
    "documents": ["text"],
    "events": ["props"],
}


@dataclass(frozen=True)
class Plan:
    tables: tuple[str, ...]
    catalog: Catalog
    specs: dict[str, TableSpec]
    explicit: dict[str, str]

    def anonymized(self, table: str) -> list[str]:
        return [c.name for c in self.specs[table].columns
                if isinstance(c, TransformedColumn)]


def _catalog(tables: list[str], sequences=()) -> Catalog:
    return Catalog.declared(
        columns={t: COLUMNS[t] for t in tables},
        primary_keys={t: set(PRIMARY_KEYS[t]) for t in tables},
        foreign_keys=[fk for fk in FOREIGN_KEYS
                      if fk.fk_table in tables and fk.pk_table in tables],
        sequences=list(sequences),
    )


def _spec(table: str, transforms: dict[str, object]) -> TableSpec:
    """Passthrough for every column, except those named in ``transforms``:
    an anonymizer name or callable is applied with ``map_string``; a
    prebuilt ``TransformedColumn`` is used as is."""
    cols = []
    for c in COLUMNS[table]:
        t = transforms.get(c)
        if t is None:
            cols.append(SourceColumn(c))
        elif isinstance(t, TransformedColumn):
            cols.append(t)
        else:
            cols.append(SourceColumn(c).map_string(t))
    return TableSpec(columns=tuple(cols))


def subset_copy(filters: dict) -> Plan:
    tables = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "org_unit", "events", "documents"]
    specs = {t: _spec(t, {**PII, **UNFILTERED}[t]) for t in tables}
    specs["events"] = _spec("events", {
        **UNFILTERED["events"],
        "props": SourceColumn("props").map_string(email_callable, lens_mod.Field("email")),
    })
    specs["documents"] = _spec("documents", {**UNFILTERED["documents"],
                                             "text": scramble_words})
    return Plan(
        tuple(tables), _catalog(tables), specs,
        {"customer": f"c_acctbal >= {filters['customer_min_acctbal']}",
         "org_unit": f"h_code <> {filters['org_drop_code']}"},
    )


def pg_upsert_copy(filters: dict) -> Plan:
    tables = ["region", "nation", "customer", "orders", "team"]
    specs = {}
    for t in tables:
        spec = _spec(t, PII.get(t, {}))
        specs[t] = spec.with_on_conflict(OnConflict.do_update())
    return Plan(
        tuple(tables), _catalog(tables, [TEAM_SEQUENCE]), specs,
        {"customer": f"c_acctbal >= {filters['pg_customer_min_acctbal']}",
         "team": f"t_code <> {filters['team_drop_code']}"},
    )


PLANS = {
    "subset_copy": subset_copy,
    "pg_upsert_copy": pg_upsert_copy,
}

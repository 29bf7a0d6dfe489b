"""IR#1 — annotated relational-schema graph (metadata only, driver-side).

Mirrors the reference's RelationalDatabase/Table/ForeignKey model
(reference server/models/RelationalDatabase.js:1-27, Table.js:1-39,
ForeignKey.js:1-9). Spark has no PK/FK enforcement, so — exactly as the
reference carries this metadata out of INFORMATION_SCHEMA — we carry it
out-of-band in plain Python dataclasses. All structures here are
metadata-scale (tens of rows); nothing in this module touches executors.

Workload counters follow the reference's row-count weighting: each observed
access adds `num_rows` to gaf (and to uaf when it is a write), and the
global threshold is maf = 0.0125 * sum(gaf)
(reference server/models/Table.js:30-35, RelationalDatabase.js:17-24).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class ForeignKey:
    """Single-column FK edge; composite FKs appear as independent edges
    (reference server/models/ForeignKey.js:1-9)."""

    column: str
    referenced_table: str
    referenced_column: str


@dataclass
class TableMeta:
    name: str
    num_rows: int
    columns: list[str] = field(default_factory=list)
    primary_keys: list[str] = field(default_factory=list)
    foreign_keys: list[ForeignKey] = field(default_factory=list)
    gaf: int = 0
    uaf: int = 0
    # Bytes of each column's values summed over the table's rows, as the
    # reader measured them (parquet footers, dump text); None when the
    # source gives no widths.
    column_bytes: dict[str, int] | None = None
    # Derived by Catalog.finalize():
    is_referenced: bool = False
    referencing_tables: list[str] = field(default_factory=list)

    @property
    def num_foreign_keys(self) -> int:
        return len(self.foreign_keys)


MAF_FACTOR = 0.0125  # reference server/models/RelationalDatabase.js:23


class Catalog:
    """Insertion-ordered table registry with derived reference info."""

    def __init__(self, tables: list[TableMeta] | None = None):
        self.tables: dict[str, TableMeta] = {}
        for t in tables or []:
            self.add_table(t)
        if tables:
            self.finalize()

    def add_table(self, table: TableMeta) -> None:
        self.tables[table.name] = table

    def get_table(self, name: str) -> TableMeta | None:
        return self.tables.get(name)

    def finalize(self) -> None:
        """Derive is_referenced + referencing_tables from the FK edges.

        The reference computes these in the source DB: an EXISTS semi-join
        for the flag (server/MySQLDBManager.js:101-105) and a
        GROUP_CONCAT(DISTINCT .. ORDER BY .. ASC) for the list
        (server/MySQLDBManager.js:231-236) — hence sorted-distinct order.
        """
        referencing: dict[str, set[str]] = {}
        for t in self.tables.values():
            for fk in t.foreign_keys:
                referencing.setdefault(fk.referenced_table, set()).add(t.name)
        for t in self.tables.values():
            refs = referencing.get(t.name, set())
            t.is_referenced = bool(refs)
            t.referencing_tables = sorted(refs)

    @property
    def maf(self) -> float:
        return MAF_FACTOR * sum(t.gaf for t in self.tables.values())


# ---------------------------------------------------------------------------
# Fixture catalogs
# ---------------------------------------------------------------------------

# FK graph of the driver testdata (FIXTURES.md §2).
TPCH_FOREIGN_KEYS: dict[str, list[tuple[str, str, str]]] = {
    "region": [],
    "nation": [("n_regionkey", "region", "r_regionkey")],
    "customer": [("c_nationkey", "nation", "n_nationkey")],
    "supplier": [("s_nationkey", "nation", "n_nationkey")],
    "part": [],
    "orders": [("o_custkey", "customer", "c_custkey")],
    "lineitem": [
        ("l_orderkey", "orders", "o_orderkey"),
        ("l_partkey", "part", "p_partkey"),
        ("l_suppkey", "supplier", "s_suppkey"),
    ],
    "events": [],
    "documents": [],
    "embeddings": [],
}

TPCH_PRIMARY_KEYS: dict[str, list[str]] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def tpch_catalog(
    columns: dict[str, list[str]],
    row_counts: dict[str, int],
    column_bytes: dict[str, dict[str, int]] | None = None,
) -> Catalog:
    """Build the testdata catalog from observed schemas + row counts
    (and column widths, when known)."""
    tables = [
        TableMeta(
            name=name,
            num_rows=row_counts.get(name, 0),
            columns=list(columns.get(name, [])),
            primary_keys=list(TPCH_PRIMARY_KEYS.get(name, [])),
            foreign_keys=[ForeignKey(*edge) for edge in edges],
            column_bytes=(column_bytes or {}).get(name),
        )
        for name, edges in TPCH_FOREIGN_KEYS.items()
    ]
    return Catalog(tables)


def northwind_catalog(row_counts: dict[str, int] | None = None) -> Catalog:
    """The Northwind-style schema behind the reference's checked-in golden
    output (FIXTURES.md §1.1) — used by the golden-structure planner tests."""
    rc = row_counts or {}

    def t(name, columns, pks, fks):
        return TableMeta(
            name=name,
            num_rows=rc.get(name, 100),
            columns=columns,
            primary_keys=pks,
            foreign_keys=[ForeignKey(*f) for f in fks],
        )

    tables = [
        t(
            "category",
            ["categoryId", "categoryName", "description", "picture"],
            ["categoryId"],
            [],
        ),
        t(
            "supplier",
            ["supplierId", "companyName", "contactName", "contactTitle",
             "address", "city", "region", "postalCode", "country", "phone",
             "email", "fax", "HomePage"],
            ["supplierId"],
            [],
        ),
        t(
            "customer",
            ["custId", "companyName", "contactName", "contactTitle",
             "address", "city", "region", "postalCode", "country", "phone",
             "mobile", "email", "fax"],
            ["custId"],
            [],
        ),
        t(
            "employee",
            ["employeeId", "lastname", "firstname", "title",
             "titleOfCourtesy", "birthDate", "hireDate", "address", "city",
             "region", "postalCode", "country", "phone", "extension",
             "mobile", "email", "photo", "notes", "mgrId", "photoPath"],
            ["employeeId"],
            [],
        ),
        t("shipper", ["shipperId", "companyName", "phone"], ["shipperId"], []),
        t("region", ["regionId", "regiondescription"], ["regionId"], []),
        t(
            "territory",
            ["territoryId", "territorydescription", "regionId"],
            ["territoryId"],
            [("regionId", "region", "regionId")],
        ),
        t(
            "product",
            ["productId", "productName", "quantityPerUnit", "unitPrice",
             "unitsInStock", "unitsOnOrder", "reorderLevel", "discontinued",
             "supplierId", "categoryId"],
            ["productId"],
            [("supplierId", "supplier", "supplierId"),
             ("categoryId", "category", "categoryId")],
        ),
        t(
            "salesorder",
            ["orderId", "orderDate", "requiredDate", "shippedDate",
             "freight", "shipName", "shipAddress", "shipCity", "shipRegion",
             "shipPostalCode", "shipCountry", "employeeId", "custId",
             "shipperId"],
            ["orderId"],
            [("custId", "customer", "custId"),
             ("shipperId", "shipper", "shipperId")],
        ),
        t(
            "employeeterritory",
            ["employeeId", "territoryId"],
            [],
            [("employeeId", "employee", "employeeId"),
             ("territoryId", "territory", "territoryId")],
        ),
        t(
            "orderdetail",
            ["orderDetailId", "orderId", "productId", "unitPrice",
             "quantity", "discount"],
            ["orderDetailId"],
            [("orderId", "salesorder", "orderId"),
             ("productId", "product", "productId")],
        ),
    ]
    return Catalog(tables)

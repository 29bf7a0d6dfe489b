"""Reconstruct the Northwind base tables from the reference's checked-in
golden output (/root/reference/server/results/collections.zip) by inverting
the conversion rules of reference server/DBMigration.js:335-392.

The golden JSON embeds/denormalizes away the FK columns; they are recovered
deterministically: parent keys from the nesting itself, two-way-embedded
endpoint keys by matching the denormalized attributes back to the endpoint's
own root collection (companyName / (lastname, firstname) are unique in the
artifact — asserted).

Timestamps stay ISO strings end to end: the golden artifact serialized raw
JS Dates (date normalization not applied in the archived run — FIXTURES.md
§1.2 quirk note), and the value-level test materializes with
normalize_dates=False, so strings round-trip byte-identically.
"""

from __future__ import annotations

import json
import os
import zipfile

from relational_to_doc_oriented_nosql_migrator_spark.plans import (
    Catalog,
    Collection,
    NoSQLPlan,
    convert_schema,
    northwind_catalog,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.planner import (
    Field,
)
from relational_to_doc_oriented_nosql_migrator_spark.sinks import (
    write_json_collections,
)

GOLDEN_ZIP = "/root/reference/server/results/collections.zip"

CATEGORY_COLS = ["categoryId", "categoryName", "description", "picture"]
SUPPLIER_COLS = ["supplierId", "companyName", "contactName", "contactTitle",
                 "address", "city", "region", "postalCode", "country",
                 "phone", "email", "fax", "HomePage"]
EMPLOYEE_COLS = ["employeeId", "lastname", "firstname", "title",
                 "titleOfCourtesy", "birthDate", "hireDate", "address",
                 "city", "region", "postalCode", "country", "phone",
                 "extension", "mobile", "email", "photo", "notes", "mgrId",
                 "photoPath"]
PRODUCT_OWN_COLS = ["productId", "productName", "quantityPerUnit",
                    "unitPrice", "unitsInStock", "unitsOnOrder",
                    "reorderLevel", "discontinued"]
CUSTOMER_COLS = ["custId", "companyName", "contactName", "contactTitle",
                 "address", "city", "region", "postalCode", "country",
                 "phone", "mobile", "email", "fax"]
SHIPPER_COLS = ["shipperId", "companyName", "phone"]
SALESORDER_OWN_COLS = ["orderId", "orderDate", "requiredDate", "shippedDate",
                       "freight", "shipName", "shipAddress", "shipCity",
                       "shipRegion", "shipPostalCode", "shipCountry",
                       "employeeId"]


# The roots of the archived artifact that the idle plan also has.
ARTIFACT_ROOTS = ["category", "customer", "employee", "region", "shipper",
                  "supplier"]


def _prune(col: Collection, name: str) -> None:
    """Remove an embedded collection (artifact divergence pinning)."""
    col.embedded = [c for c in col.embedded if c.name != name]
    for c in col.embedded:
        _prune(c, name)


def artifact_plan(catalog: Catalog) -> NoSQLPlan:
    """The plan of the archived artifact, pinned rather than re-derived:
    the archived run had orderdetail update-hot WITHOUT the normative
    parent-chain flip (salesorder/product stayed embedded — FIXTURES.md
    §1.2 quirk notes), so the normative planner cannot reproduce its
    collection set. The idle plan, with orderdetail pruned from the
    embedded trees and added as a flat referencing root by hand (its
    layout is golden-tested in test_planner)."""
    roots = {c.name: c for c in convert_schema(catalog).collections}
    for name in ARTIFACT_ROOTS:
        _prune(roots[name], "orderdetail")
    # Artifact quirk (FIXTURES.md §1.2): the archived run's two-way embed
    # dropped the OTHER ENDPOINT's foreign-key columns too (collection3's
    # employeeterritory docs carry territorydescription but not territory's
    # regionId), while the current reference code
    # (server/DBMigration.js:304-309) filters only the referenced PK.
    # Pin the field list to the artifact.
    et = roots["employee"].embedded[0]
    assert et.name == "employeeterritory"
    et.fields = [f for f in et.fields if f.name != "regionId"]
    orderdetail = Collection("orderdetail", [
        Field("orderDetailId", "orderDetailId"),
        Field("orderId_REF", "orderId"),
        Field("productId_REF", "productId"),
        Field("unitPrice", "unitPrice"),
        Field("quantity", "quantity"),
        Field("discount", "discount"),
    ])
    return NoSQLPlan("northwind_artifact",
                     [roots[n] for n in ARTIFACT_ROOTS] + [orderdetail])


def load_golden() -> dict[int, list[dict]]:
    with zipfile.ZipFile(GOLDEN_ZIP) as z:
        return {
            i: json.loads(z.read(f"collection{i}.json")) for i in range(1, 8)
        }


def _pick(doc: dict, cols: list[str]) -> dict:
    return {c: doc.get(c) for c in cols}


def _unique_index(rows: list[dict], key_cols: tuple[str, ...],
                  val_col: str) -> dict:
    idx: dict = {}
    for r in rows:
        k = tuple(r[c] for c in key_cols)
        assert k not in idx, f"non-unique recovery key {k}"
        idx[k] = r[val_col]
    return idx


def invert_golden(g: dict[int, list[dict]]) -> dict[str, list[dict]]:
    """Golden collections -> relational base-table rows."""
    category = [_pick(d, CATEGORY_COLS) for d in g[1]]
    supplier = [_pick(d, SUPPLIER_COLS) for d in g[6]]
    sup_id = _unique_index(supplier, ("companyName",), "supplierId")

    product = [
        {**_pick(p, PRODUCT_OWN_COLS),
         "supplierId": sup_id[(p["companyName"],)],
         "categoryId": cat["categoryId"]}
        for cat in g[1] for p in (cat.get("product") or [])
    ]

    region = [_pick(d, ["regionId", "regiondescription"]) for d in g[4]]
    territory = [
        {"territoryId": t["territoryId"],
         "territorydescription": t["territorydescription"],
         "regionId": r["regionId"]}
        for r in g[4] for t in (r.get("territory") or [])
    ]

    employee = [_pick(d, EMPLOYEE_COLS) for d in g[3]]
    emp_id = _unique_index(employee, ("lastname", "firstname"), "employeeId")
    employeeterritory = [
        {"employeeId": emp_id[(e["lastname"], e["firstname"])],
         "territoryId": t["territoryId"]}
        for r in g[4] for t in (r.get("territory") or [])
        for e in (t.get("employeeterritory") or [])
    ]

    orderdetail = [
        {"orderDetailId": d["orderDetailId"], "orderId": d["orderId_REF"],
         "productId": d["productId_REF"], "unitPrice": d["unitPrice"],
         "quantity": d["quantity"], "discount": d["discount"]}
        for d in g[7]
    ]

    customer = [_pick(d, CUSTOMER_COLS) for d in g[2]]
    shipper = [_pick(d, SHIPPER_COLS) for d in g[5]]
    ship_id = _unique_index(shipper, ("companyName",), "shipperId")
    # salesorder rows from collection2 (customer roots): custId from the
    # nesting parent, shipperId recovered from the two-way-denormalized
    # shipper companyName (unique across the 3 shippers — asserted).
    salesorder = [
        {**_pick(o, SALESORDER_OWN_COLS),
         "custId": c["custId"],
         "shipperId": ship_id[(o["companyName"],)]}
        for c in g[2] for o in (c.get("salesorder") or [])
    ]

    return {
        "category": category, "supplier": supplier, "product": product,
        "region": region, "territory": territory, "employee": employee,
        "employeeterritory": employeeterritory, "orderdetail": orderdetail,
        "customer": customer, "shipper": shipper, "salesorder": salesorder,
    }


# Explicit schemas (createDataFrame must not infer from None-heavy columns).
SCHEMAS = {
    "category": "categoryId int, categoryName string, description string,"
                " picture string",
    "supplier": "supplierId int, companyName string, contactName string,"
                " contactTitle string, address string, city string,"
                " region string, postalCode string, country string,"
                " phone string, email string, fax string, HomePage string",
    "product": "productId int, productName string, quantityPerUnit string,"
               " unitPrice double, unitsInStock int, unitsOnOrder int,"
               " reorderLevel int, discontinued string, supplierId int,"
               " categoryId int",
    "region": "regionId int, regiondescription string",
    "territory": "territoryId string, territorydescription string,"
                 " regionId int",
    "employee": "employeeId int, lastname string, firstname string,"
                " title string, titleOfCourtesy string, birthDate string,"
                " hireDate string, address string, city string,"
                " region string, postalCode string, country string,"
                " phone string, extension string, mobile string,"
                " email string, photo string, notes string, mgrId int,"
                " photoPath string",
    "employeeterritory": "employeeId int, territoryId string",
    "orderdetail": "orderDetailId int, orderId int, productId int,"
                   " unitPrice double, quantity int, discount double",
    "customer": "custId int, companyName string, contactName string,"
                " contactTitle string, address string, city string,"
                " region string, postalCode string, country string,"
                " phone string, mobile string, email string, fax string",
    "shipper": "shipperId int, companyName string, phone string",
    "salesorder": "orderId int, orderDate string, requiredDate string,"
                  " shippedDate string, freight double, shipName string,"
                  " shipAddress string, shipCity string, shipRegion string,"
                  " shipPostalCode string, shipCountry string,"
                  " employeeId int, custId int, shipperId int",
}


def spark_tables(spark, base: dict[str, list[dict]]) -> dict:
    def coerce(v, typ: str):
        # JSON integers land in double columns (e.g. unitPrice 18).
        if typ == "double" and isinstance(v, int):
            return float(v)
        return v

    out = {}
    for name, rows in base.items():
        fields = [c.strip().split(" ") for c in SCHEMAS[name].split(",")]
        out[name] = spark.createDataFrame(
            [tuple(coerce(r[f[0]], f[1]) for f in fields) for r in rows],
            SCHEMAS[name],
        )
    return out


def normalize_doc(v):
    """Canonical form for value comparison: drop null-valued keys (the
    reference's JSON omits absent children; we emit NULL arrays), sort
    arrays by content, floats rounded to 6dp, ints and floats unified."""
    if isinstance(v, dict):
        return {k: normalize_doc(x) for k, x in v.items() if x is not None}
    if isinstance(v, list):
        return sorted(
            (normalize_doc(x) for x in v),
            key=lambda x: json.dumps(x, sort_keys=True, default=str),
        )
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)):
        return round(float(v), 6)
    return v


# Parents before children so FK targets exist at CREATE time.
TOPO_ORDER = [
    "category", "supplier", "region", "shipper", "customer", "employee",
    "product", "territory", "salesorder", "employeeterritory",
    "orderdetail",
]

_SQL_TYPES = {"int": "INT", "double": "DOUBLE"}


def _sql_type(col: str, typ: str, key_cols: set) -> str:
    if typ in _SQL_TYPES:
        return _SQL_TYPES[typ]
    # MySQL cannot index TEXT without a prefix length: key-participating
    # strings become VARCHAR; free text (notes/description/picture) TEXT.
    return "VARCHAR(64)" if col in key_cols else "TEXT"


def _esc(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, (int, float)):
        return repr(v)
    s = str(v)
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _ident(name: str) -> str:
    return "`" + name + "`"


def northwind_statements() -> list:
    """MySQL CREATE/INSERT statements (no trailing ';') for the
    reconstructed Northwind fixture, in FK-topological order, with
    table-level FOREIGN KEY clauses and mysqldump-style \\' escaping."""
    base = invert_golden(load_golden())
    catalog = northwind_catalog({k: len(v) for k, v in base.items()})
    stmts = []
    for name in TOPO_ORDER:
        meta = catalog.get_table(name)
        key_cols = set(meta.primary_keys) | {
            fk.column for fk in meta.foreign_keys
        }
        for t in catalog.tables.values():
            key_cols |= {
                fk.referenced_column
                for fk in t.foreign_keys
                if fk.referenced_table == name
            }
        fields = [c.strip().split(" ") for c in SCHEMAS[name].split(",")]
        cols = [
            f"{_ident(col)} {_sql_type(col, typ, key_cols)}"
            for col, typ in fields
        ]
        cons = [
            "PRIMARY KEY (" + ", ".join(
                _ident(c) for c in meta.primary_keys
            ) + ")"
        ]
        cons += [
            f"CONSTRAINT fk_{name}_{fk.column} FOREIGN KEY"
            f" ({_ident(fk.column)}) REFERENCES"
            f" {_ident(fk.referenced_table)} ({_ident(fk.referenced_column)})"
            for fk in meta.foreign_keys
        ]
        stmts.append(
            f"CREATE TABLE {_ident(name)} (\n  "
            + ",\n  ".join(cols + cons)
            + "\n)"
        )
        col_names = [f[0] for f in fields]
        rows = base[name]
        for i in range(0, len(rows), 200):
            values = ",\n".join(
                "(" + ", ".join(_esc(r.get(c)) for c in col_names) + ")"
                for r in rows[i:i + 200]
            )
            stmts.append(
                f"INSERT INTO {_ident(name)} ("
                + ", ".join(_ident(c) for c in col_names)
                + f") VALUES\n{values}"
            )
    return stmts


def northwind_dump() -> str:
    """MySQL dump text of the reconstructed Northwind fixture (what
    sources/sqldump.py parses)."""
    return "\n".join(s + ";" for s in northwind_statements())


def collections_to_docs(collections, out_dir) -> dict:
    """Materialize through the real JSON sink and read the docs back —
    the same byte path a user of `POST /migration` receives."""
    written = write_json_collections(
        collections, out_dir, single_file=True
    )
    out = {}
    for name in written:
        with open(os.path.join(out_dir, f"{name}.json")) as fh:
            out[name.lower()] = sorted(
                (normalize_doc(d) for d in json.load(fh)),
                key=lambda d: json.dumps(d, sort_keys=True, default=str),
            )
    return out

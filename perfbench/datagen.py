"""Seeded input generator for the benchmark.

Every input the program reads is made here from ``--seed``: the same
seed gives byte-identical files. Two families:

* the ten catalog tables (region .. embeddings), shaped like the
  TPC-H-ish star schema plus ``events``/``documents``/``embeddings``
  that the catalog queries read (FIXTURES.md F5), at a chosen scale
  factor. Row counts follow the catalog's scale rules (lineitem =
  6M x sf, orders = 1.5M x sf, ...); values are uniform over the same
  domains, vocabularies and date ranges the queries filter on.
* the reference pipeline inputs: an F1-schema products CSV and an
  F3-schema nested JSON array (FIXTURES.md F1/F3).

Only numpy, pyarrow and the standard library are used, so generation
costs no Spark job.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

_EPOCH = dt.datetime(1970, 1, 1)
_DAY_US = 86_400_000_000


def _days_us(start: dt.date, n_days: int, rng: np.random.Generator, n: int) -> np.ndarray:
    """Midnight timestamps (microseconds) uniform over ``n_days`` days."""
    base = (dt.datetime.combine(start, dt.time()) - _EPOCH) // dt.timedelta(microseconds=1)
    return base + rng.integers(0, n_days, n) * _DAY_US


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values, type=pa.timestamp("us"))


def _tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.array(_PART_ADJ)[rng.integers(0, 8, n_part)]
    noun = np.array(_PART_NOUN)[rng.integers(0, 8, n_part)]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(_days_us(dt.date(1995, 1, 1), 2404, rng, n_ord)),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(_days_us(dt.date(1995, 1, 2), 2499, rng, n_li)),
        }
    )
    ev_base = (dt.datetime(2024, 1, 1) - _EPOCH) // dt.timedelta(microseconds=1)
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + ev_base
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(ev_ts),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(n_docs, rng)
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return t


def _documents(n: int, rng: np.random.Generator) -> pa.Table:
    """Bag-of-words documents; 5% are an earlier document plus a trailing
    ``dup`` token (near duplicates) and 0.2% repeat one verbatim."""
    words = np.array(_DOC_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
        for _ in range(n)
    ]
    near = rng.choice(np.arange(1, n), size=n // 20, replace=False)
    for i in sorted(near):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n), size=max(1, n // 500), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten catalog tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    tables = _tables(sf, np.random.default_rng([seed, 1]))
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))


# ------------------------------------------------- reference pipeline inputs
_BRANDS = [
    "Avalon", "Birch and Co", "Cobalt", "Dune", "Ember", "Fjord", "Granite",
    "Harbor", "Iris", "Juniper", "Kestrel", "Lumen", "Meridian", "Nova",
    "Orchid", "Pioneer",
]
_SIZES = ["XS", "S", "M", "L", "XL", "XXL", "XXXL"]
_COLORS = ["Black", "White", "Navy", "Grey", "Red", "Olive", "Beige", "Blue"]
_CATEGORIES = {
    "Tops": ["T-Shirts", "Shirts", "Sweaters"],
    "Bottoms": ["Jeans", "Trousers", "Shorts"],
    "Outerwear": ["Jackets", "Coats"],
}
_SEASONS = ["Spring", "Summer", "Autumn", "Winter", "All Season"]
_ORIGINS = ["BD", "CN", "TR", "PT", "VN", "IN"]
_STATUSES = ["created", "in_progress", "approved", "retired"]
_STATUS_P = [0.64, 0.17, 0.11, 0.08]
_FABRICS = ["100% Cotton", "97% Cotton 3% Elastane", "60% Cotton 40% Polyester", "100% Wool"]
_WASHING = ["Machine wash 30C", "Hand wash only", "Dry clean only"]

# b2bReadinessDate spans [_B2B_START, _B2B_START + _B2B_DAYS); the pipeline
# keeps status ``created`` (64%) on or after FILTER_THRESHOLD (47% of the
# span), about 30% of the rows.
_B2B_START = dt.datetime(2024, 12, 5)
_B2B_DAYS = 369
FILTER_STATUS = "created"
FILTER_THRESHOLD = "2025-06-19T00:00:00.000Z"

PRODUCT_COLUMNS = [
    "ean", "styleNumber", "styleOption", "size", "color", "brandName",
    "brandcode", "subbrandName", "productCategory", "productSubcategory",
    "gender", "ediSeason", "ediStyleName", "countryOfOrigin", "price_eur",
    "price_usd", "price_gbp", "grossPrice_eur", "b2bReadinessDate",
    "articleStatus", "enrichmentStatus", "createdOn", "lastUpdated",
    "fabricComposition", "washingInstructions", "ediDescription",
]


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def write_products_csv(path: str, seed: int, rows: int) -> None:
    """F1 products CSV: 26 columns, header row, empty cells for NULLs
    (about 37% of price_usd, 46% of price_gbp, 70% of subbrandName)."""
    rng = np.random.default_rng([seed, 2])

    def pick(values: list[str], p: list[float] | None = None) -> np.ndarray:
        return np.array(values)[rng.choice(len(values), rows, p=p)]

    def iso(start: dt.datetime, span_days: int) -> np.ndarray:
        ms = np.datetime64(start, "ms") + rng.integers(0, span_days * 86_400_000, rows)
        return np.char.add(np.datetime_as_string(ms, unit="ms"), "Z")

    def cat(*parts: np.ndarray | str) -> np.ndarray:
        out = np.asarray(parts[0])
        for p in parts[1:]:
            out = np.char.add(out, p)
        return out

    style = rng.integers(10_000_000, 100_000_000, rows).astype(str)
    color = pick(_COLORS)
    brand_i = rng.integers(0, len(_BRANDS), rows)
    brand = np.array(_BRANDS)[brand_i]
    category = pick(list(_CATEGORIES))
    sub = np.array(
        [_CATEGORIES[c][k % len(_CATEGORIES[c])] for c, k in zip(category, rng.integers(0, 3, rows))]
    )
    size = pick(_SIZES)
    eur = np.round(rng.uniform(9.99, 199.99, rows), 2)
    usd = pa.array(np.round(eur * 1.08, 2), mask=rng.random(rows) < 0.37)
    gbp = pa.array(np.round(eur * 0.85, 2), mask=rng.random(rows) < 0.46)
    subbrand = pa.array(cat(brand, " Studio"), mask=rng.random(rows) >= 0.3)
    columns = {
        "ean": (4_000_000_000_000 + np.arange(rows)).astype(str),
        "styleNumber": style,
        "styleOption": cat(style, "_", color),
        "size": size,
        "color": color,
        "brandName": brand,
        "brandcode": (3 + brand_i % 14).astype(str),
        "subbrandName": subbrand,
        "productCategory": category,
        "productSubcategory": sub,
        "gender": pick(["Male", "Female"]),
        "ediSeason": pick(_SEASONS),
        "ediStyleName": cat(sub, " ", color),
        "countryOfOrigin": pick(_ORIGINS),
        "price_eur": eur,
        "price_usd": usd,
        "price_gbp": gbp,
        "grossPrice_eur": np.round(eur * 1.19, 2),
        "b2bReadinessDate": iso(_B2B_START, _B2B_DAYS),
        "articleStatus": pick(_STATUSES, _STATUS_P),
        "enrichmentStatus": np.full(rows, "ready"),
        "createdOn": iso(dt.datetime(2024, 1, 1), 300),
        "lastUpdated": iso(dt.datetime(2024, 11, 1), 30),
        "fabricComposition": pick(_FABRICS),
        "washingInstructions": pick(_WASHING),
        "ediDescription": cat(color, " ", sub, " by ", brand, ", size ", size),
    }
    pacsv.write_csv(
        pa.table({c: columns[c] for c in PRODUCT_COLUMNS}),
        path,
        pacsv.WriteOptions(quoting_style="needed"),
    )


def products_json_records(seed: int, records: int) -> list[dict]:
    """F3 nested product documents (key order as in the reference sample;
    the optional keys subbrandName/ediSeason/ediStyleName appear on a
    minority of records)."""
    rng = np.random.default_rng([seed, 3])
    out = []
    for i in range(records):
        style = int(rng.integers(10_000_000, 100_000_000))
        color = _COLORS[int(rng.integers(0, len(_COLORS)))]
        cat = list(_CATEGORIES)[int(rng.integers(0, 3))]
        brand_i = int(rng.integers(0, len(_BRANDS)))
        base = round(float(rng.uniform(9.99, 199.99)), 2)
        # Whole-euro prices render as e.g. ``55.0`` (Python str of a float).
        if rng.random() < 0.25:
            base = float(round(base))

        def prices(kind: str, factor: float) -> list[dict]:
            return [
                {
                    "priceType": kind,
                    "priceCurrency": cur,
                    "price": round(base * factor * fx, 2),
                    "validInRegion": region,
                    "validFrom": "2025-01-01",
                    "validUntil": "2025-12-31",
                }
                for cur, fx, region in (("EUR", 1.0, "EU"), ("GBP", 0.85, "UK"))
            ]

        rec: dict = {
            "ean": f"{5_000_000_000_000 + i:013d}",
            "styleNumber": str(style),
            "styleOption": f"{style}_{color}",
            "size": _SIZES[int(rng.integers(0, len(_SIZES)))],
            "countryOfOrigin": [
                {"language": lang, "value": _ORIGINS[int(rng.integers(0, 6))]}
                for lang in ("en", "de")
            ],
            "itemSellingPrices": prices("selling", 1.0),
            "itemGrossPrices": prices("gross", 1.19),
            "b2bReadinessDate": _iso(
                _B2B_START + dt.timedelta(seconds=int(rng.integers(0, _B2B_DAYS * 86_400)))
            ),
            "styleLifeCycle": {
                "createdOn": "2024-06-01T08:00:00.000Z",
                "lastUpdated": "2024-11-15T12:30:00.000Z",
                "articleStatus": _STATUSES[int(rng.choice(4, p=_STATUS_P))],
                "enrichmentStatus": "ready",
            },
            "color": color,
            "brandName": _BRANDS[brand_i],
            "brandcode": str(3 + brand_i % 14),
        }
        if rng.random() < 0.3:
            rec["subbrandName"] = f"{_BRANDS[brand_i]} Studio"
        rec["productCategory"] = cat
        rec["productSubcategory"] = _CATEGORIES[cat][int(rng.integers(0, len(_CATEGORIES[cat])))]
        rec["gender"] = ["Male", "Female"][int(rng.integers(0, 2))]
        if rng.random() < 0.4:
            rec["ediSeason"] = _SEASONS[int(rng.integers(0, len(_SEASONS)))]
        if rng.random() < 0.4:
            rec["ediStyleName"] = f"{cat} {style % 1000}"
        rec["fabricCompositions"] = [
            {"language": lang, "value": _FABRICS[int(rng.integers(0, len(_FABRICS)))]}
            for lang in ("en", "de")
        ]
        out.append(rec)
    return out


def write_products_json(path: str, seed: int, records: int) -> None:
    """F3 input: one JSON array of nested product records."""
    with open(path, "w", encoding="utf-8") as f:
        json.dump(products_json_records(seed, records), f, indent=2)

"""Seeded input generators.

Everything the benchmark feeds the program is made here from ``--seed``:

- ``write_star_tables``: the ten driver tables (TPC-H-like star schema plus
  ``events``, ``documents`` and ``embeddings``) as single-row-group parquet
  files, with the same column names, types and value domains as the
  driver's synthetic test data.
- ``write_pricepaid_inputs``: headerless HM Land Registry style CSV files
  (one bulk file and ``n_deltas`` monthly deltas) carrying the defect mix
  of FIXTURES.md B1, the seeded ``rightmove_areas`` / ``sales_properties``
  starting tables, and the typeahead / listing-page fixtures the offline
  fetchers serve.

The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# -- star schema --------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["red", "blue", "hot", "cold", "new", "old", "small", "large"]
NOUNS = ["bolt", "gear", "rod", "plate", "ring", "widget", "gizmo", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64

DAY_US = 86_400 * 1_000_000


def _day_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def star_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (driver proportions)."""
    return {
        "customer": max(50, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(100, int(200_000 * sf)),
        "orders": max(500, int(1_500_000 * sf)),
        "users": max(50, int(15_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents over a small vocabulary; about one in eight is a
    near copy (one or two words replaced) of an earlier original."""
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if originals and rng.random() < 0.125:
            words = texts[originals[int(rng.integers(len(originals)))]].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(len(words)))] = VOCAB[int(rng.integers(len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(8, 100)))]
            originals.append(i)
        texts.append(" ".join(words))
    lang = rng.choice(LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(lang.tolist()),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors scattered around ten label centres."""
    centres = rng.normal(size=(10, EMBED_DIM))
    label = rng.integers(0, 10, n).astype(np.int32)
    vecs = centres[label] + rng.normal(scale=1.5, size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMBED_DIM).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(label),
        }
    )


def write_star_tables(out_dir: str, sf: float, seed: int) -> dict:
    """Write the ten tables as ``<out_dir>/<name>.parquet``; returns the row
    count and byte size of each."""
    rng = np.random.default_rng([seed, 1])
    n = star_sizes(sf)
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": rng.choice(SEGMENTS, nc).tolist(),
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )
    npart = n["part"]
    retail = np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
            "p_name": [
                f"{COLORS[c]} {NOUNS[w]}"
                for c, w in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart).tolist(),
            "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
            "p_retailprice": pa.array(retail),
        }
    )
    no = n["orders"]
    day0, day1 = _day_us(1995, 1, 1), _day_us(2001, 8, 1)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
            "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": _ts(rng.integers(0, (day1 - day0) // DAY_US + 1, no) * DAY_US + day0),
            "o_orderpriority": rng.choice(PRIORITIES, no).tolist(),
        }
    )
    lines_per = rng.integers(1, 8, no)
    nl = int(lines_per.sum())
    l_order = np.repeat(np.arange(no, dtype=np.int64), lines_per)
    starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    l_number = (np.arange(nl) - starts + 1).astype(np.int32)
    l_part = rng.integers(0, npart, nl).astype(np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    s0, s1 = _day_us(1995, 1, 2), _day_us(2001, 11, 4)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order),
            "l_partkey": pa.array(l_part),
            "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
            "l_linenumber": pa.array(l_number),
            "l_quantity": pa.array(qty),
            # whole currency units: an exact decimal sum then never ends
            # in a rounding tie, where DuckDB and Spark round differently
            "l_extendedprice": pa.array(np.round(qty * retail[l_part] * rng.uniform(0.02, 2.1, nl))),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
            "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
            "l_shipdate": _ts(rng.integers(0, (s1 - s0) // DAY_US + 1, nl) * DAY_US + s0),
        }
    )
    ne = n["events"]
    e0 = _day_us(2024, 1, 1)
    ts = np.sort(rng.integers(0, 30 * DAY_US, ne)) + e0
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, n["users"], ne).astype(np.int64)),
            "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
            "value": pa.array(np.round(rng.exponential(60.0, ne).clip(0, 560.21), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    info = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        _write(table, path)
        info[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return info


# -- price-paid cycle ---------------------------------------------------------

OX_SHARE = 0.3
REDELIVER_SHARE = 0.1
BAD_DATE_SHARE = 0.01
BAD_PRICE_SHARE = 0.01
NULL_POSTCODE_SHARE = 0.02
OTHER_AREAS = ["SW", "AB", "B", "M", "LS", "CB", "RG", "BS", "N", "E", "G", "CF"]
TOWNS = ["OXFORD", "ABINGDON", "BICESTER", "WITNEY", "LONDON", "LEEDS", "BRISTOL"]
TODAY_INT = 20260813
YESTERDAY_INT = 20260812
PAGE_SIZE = 24


HEX = np.array(list("0123456789ABCDEF"))


def _cat(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def _strs(values: np.ndarray) -> pa.Array:
    """Fixed-width character codes -> one string per row."""
    return pa.array(np.ascontiguousarray(values).view(f"<U{values.shape[1]}").ravel())


def _guid(rng: np.random.Generator, n: int) -> list[str]:
    parts = [_strs(HEX[rng.integers(0, 16, (n, w))]) for w in (8, 4, 4, 4, 12)]
    return pc.binary_join_element_wise(*parts, "-").to_pylist()


def _pricepaid_rows(rng: np.random.Generator, ids: list[str]) -> tuple[pa.Table, np.ndarray, int]:
    """The 16 raw columns for one file (NULL = empty field), the byte
    length of each row's CSV line and the number of ``OX`` postcodes."""
    n = len(ids)
    u = rng.random((n, 6))
    tx = pa.array(ids)
    tx = pc.if_else(u[:, 0] < 0.9, _cat("{", tx, "}"), tx)
    price = pc.if_else(u[:, 1] < BAD_PRICE_SHARE, "lots",
                       pa.array(rng.integers(20_000, 2_000_000, n)).cast(pa.string()))
    day = rng.integers(0, 9 * 365, n) * DAY_US + _day_us(2015, 1, 1)
    dates = _cat(pc.strftime(_ts(day), "%Y-%m-%d"), " 00:00")
    dates = pc.if_else(u[:, 2] < BAD_DATE_SHARE, "not-a-date", dates)
    district = pa.array(rng.integers(1, 50, n)).cast(pa.string())
    letters = np.array([chr(65 + i) for i in range(26)])
    inward = _cat(pa.array(rng.integers(1, 10, n)).cast(pa.string()), _strs(letters[rng.integers(0, 26, (n, 2))]))
    area = pc.if_else(u[:, 3] < OX_SHARE, "OX", pa.array(np.asarray(OTHER_AREAS)[rng.integers(0, len(OTHER_AREAS), n)]))
    town = pa.array(np.asarray(TOWNS)[rng.integers(0, len(TOWNS), n)])
    cols = {
        "c0": (tx, None),
        "c1": (price, None),
        "c2": (dates, None),
        "c3": (_cat(area, district, " ", inward), u[:, 4] < NULL_POSTCODE_SHARE),
        "c4": (pa.array(rng.choice(list("DSTFO"), n)), None),
        "c5": (pc.if_else(u[:, 5] < 0.1, "Y", "N"), None),
        "c6": (pc.if_else(u[:, 5] > 0.7, "L", "F"), None),
        "c7": (district, None),
        "c8": (_cat("FLAT ", inward), u[:, 5] >= 0.2),
        "c9": (_cat(town, " ROAD"), None),
        "c10": (town, np.ones(n, dtype=bool)),
        "c11": (town, None),
        "c12": (town, None),
        "c13": (_cat(town, "SHIRE"), None),
        "c14": (pa.array(np.full(n, "A")), None),
        "c15": (pa.array(np.full(n, "A")), None),
    }
    arrays, line = {}, np.full(n, 15 + 1)  # 15 commas and the newline
    for name, (values, null) in cols.items():
        size = pc.utf8_length(values).to_numpy() + 2  # quoted
        if null is not None:
            size = np.where(null, 0, size)
            values = pc.if_else(null, pa.scalar(None, pa.string()), values)
        line = line + size
        arrays[name] = values
    return pa.table(arrays), line, int((u[:, 3] < OX_SHARE).sum())


def _listing_html(ids: list[int], next_offset: int | None, total: int) -> str:
    cards = "".join(
        f'<div class="l-searchResult"><a class="propertyCard-link" '
        f'href="/properties/{i}#/?channel=RES_BUY">P{i}</a></div>'
        for i in ids
    )
    model = json.dumps({"pagination": {"next": next_offset, "total": total}})
    return f"<html><body>{cards}<script>window.jsonModel = {model};</script></body></html>"


def write_pricepaid_inputs(
    out_dir: str, seed: int, n_bulk: int, n_delta: int, n_deltas: int, n_areas: int
) -> dict:
    """Write the CSV files, starting tables and fetcher fixtures; returns
    their paths plus what a reader needs to judge them (row counts, the
    ``OX`` and re-delivery shares, bytes, and per-file line sizes)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    universe = _guid(rng, n_bulk + n_delta * n_deltas)
    files, delivered = [], []
    line_bytes: list[dict[str, int]] = []
    redelivered = n_ox = 0
    fresh = iter(universe)
    for f in range(n_deltas + 1):
        n = n_bulk if f == 0 else n_delta
        k = 0 if f == 0 else int(n * REDELIVER_SHARE)
        old = rng.choice(len(delivered), k, replace=False) if k else []
        ids = [delivered[j] for j in old] + [next(fresh) for _ in range(n - k)]
        redelivered += k
        rows, sizes, ox = _pricepaid_rows(rng, ids)
        n_ox += ox
        path = os.path.join(out_dir, "pp-bulk.csv" if f == 0 else f"pp-delta-{f}.csv")
        pacsv.write_csv(rows, path, pacsv.WriteOptions(include_header=False, quoting_style="all_valid"))
        files.append(path)
        line_bytes.append(dict(zip(ids, sizes.tolist())))
        delivered.extend(ids[k:])
    # areas: mixed-case outcodes; about 60% unresolved (area_id NULL or 0),
    # the rest resolved with a NULL, stale or fresh scrape watermark
    outcodes = [f"OX{i}" for i in range(1, n_areas // 2 + 1)] + [
        f"{OTHER_AREAS[i % len(OTHER_AREAS)]}{i}" for i in range(n_areas - n_areas // 2)
    ]
    ids = rng.permutation(np.arange(1000, 1000 + n_areas)).tolist()
    areas, typeahead = [], {}
    for code, area_id in zip(outcodes, ids):
        shown = code.lower() if rng.random() < 0.15 else code
        r = rng.random()
        if r < 0.6:
            areas.append((shown, None if rng.random() < 0.7 else 0, None, None))
        else:
            mark = [None, 20200101, 20990101][int(rng.integers(0, 3))]
            areas.append((shown, area_id, f"{code} area", mark))
        kind = rng.random()
        if kind < 0.6:
            typeahead[shown] = {"matches": [
                {"type": "REGION", "id": "9", "displayName": "Region"},
                {"type": "OUTCODE", "id": str(area_id), "displayName": code},
                {"type": "OUTCODE", "id": "1", "displayName": "second"},
            ]}
        elif kind < 0.75:
            typeahead[shown] = {"matches": [{"type": "REGION", "id": "9", "displayName": "R"}]}
        elif kind < 0.85:
            typeahead[shown] = {"matches": [{"type": "OUTCODE", "id": "n/a", "displayName": code}]}
        elif kind < 0.95:
            typeahead[shown] = None  # the fetcher raises for this key
        else:
            typeahead[shown] = {"matches": []}
    pages: dict[str, str] = {}
    for area_id in ids:
        n_pages = int(rng.integers(0, 5))
        prop = rng.integers(100_000, 100_000 + 40 * n_areas, (max(n_pages, 1), PAGE_SIZE))
        total = n_pages * PAGE_SIZE
        for p in range(max(n_pages, 1)):
            last = p >= n_pages - 1
            page_ids = prop[p, : int(rng.integers(0, PAGE_SIZE + 1))].tolist() if n_pages else []
            if p and page_ids:
                page_ids[0] = int(prop[p - 1, 0])  # repeated across pages
            pages[f"{area_id}:{p * PAGE_SIZE}"] = _listing_html(
                page_ids, None if last else (p + 1) * PAGE_SIZE, total
            )
    sales = [(str(100_000 + 40 * i), bool(i % 2), 20240101, 20240101) for i in range(n_areas)]
    areas_path = os.path.join(out_dir, "areas.parquet")
    pq.write_table(
        pa.table(
            {
                "outcode": [a[0] for a in areas],
                "area_id": pa.array([a[1] for a in areas], pa.int64()),
                "display_name": pa.array([a[2] for a in areas], pa.string()),
                "last_updated_sale": pa.array([a[3] for a in areas], pa.int64()),
            }
        ),
        areas_path,
    )
    sales_path = os.path.join(out_dir, "sales.parquet")
    pq.write_table(
        pa.table(
            {
                "property_id": [s[0] for s in sales],
                "is_processed": [s[1] for s in sales],
                "created_date": pa.array([s[2] for s in sales], pa.int32()),
                "updated_date": pa.array([s[3] for s in sales], pa.int32()),
            }
        ),
        sales_path,
    )
    fixtures_path = os.path.join(out_dir, "fixtures.json")
    with open(fixtures_path, "w") as fh:
        json.dump({"typeahead": typeahead, "pages": pages}, fh)
    sizes = [os.path.getsize(p) for p in files]
    n_lines = [len(b) for b in line_bytes]
    return {
        "csv": files,
        "areas": areas_path,
        "sales": sales_path,
        "fixtures": fixtures_path,
        "line_bytes": line_bytes,
        "stats": {
            "csv_rows": n_lines,
            "csv_bytes": sizes,
            "ox_share": round(n_ox / sum(n_lines), 4),
            "redelivered_rows": redelivered,
            "redeliver_share": round(redelivered / max(1, sum(n_lines[1:])), 4),
            "areas": len(areas),
            "fixture_pages": len(pages),
            "fixture_bytes": os.path.getsize(fixtures_path),
        },
    }

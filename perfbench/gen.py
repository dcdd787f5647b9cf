"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same arguments give
byte-identical files, a different seed gives different files. `inputs`
caches a workload's files under the work directory keyed by seed and size,
so repeated runs on one seed skip generation; only the newest few entries
per workload are kept.

- `build_etl`: daily platform snapshot CSVs (domclick, yandex, avito, plus a
  cian file the requests skip) over a few snapshot dates, with planted
  duplicate listing URLs (removed by keep-first dedup) and malformed numeric
  and date cells (coerced to null / epoch by the transformers). The expected
  keep-first output row count per date is computed here, independently of
  the engine.
- `build_tpch`: the seven TPC-H-shaped parquet tables the registry queries
  read, with the value domains of the project's test data, scaled by the
  orders count.
- `build_llm`: a documents table with planted near-duplicate pairs and an
  embeddings table, scaled by tiling (tile-private vocabularies for text,
  tile-seeded orthogonal rotations for vectors) so candidate density grows
  linearly with corpus size instead of quadratically.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from datetime import datetime, timedelta

import numpy as np

ETL_PLATFORMS = ("domclick", "yandex", "avito")
ETL_DATES = ("20250301", "20250302", "20250303")
# An older, small snapshot for warm-up refreshes: driver-side plan building
# and its JIT take several refreshes to settle, and a small snapshot runs
# the same code paths at a fraction of the cost.
ETL_WARM_DATE = "20250228"
# Per-cell probabilities of the planted defects.
BAD_NUM_P = 0.02  # price / area cell that does not parse as a number
BAD_DATE_P = 0.03  # date cell that does not parse as a timestamp
DUP_P = 0.04  # yandex / avito row reusing an earlier row's listing URL

WORDS = (
    "flat sunny quiet renovated metro park balcony view new cozy large "
    "bright modern spacious central family garden parking elevator brick"
).split()

KEEP_ENTRIES = 2  # cached input sets kept per workload


def _rng(seed: int, *salt: str) -> np.random.Generator:
    digest = hashlib.sha256(":".join([str(seed), *salt]).encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _cached(work: str, kind: str, key: str, build) -> tuple[str, dict]:
    """Return (dir, meta) for a cached input set, building it on a miss.
    The build writes into a temporary directory renamed into place, so an
    interrupted build never leaves a half-written entry behind."""
    root = os.path.join(work, "inputs")
    out = os.path.join(root, f"{kind}-{key}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        os.utime(out)
        with open(meta_path) as fh:
            return out, json.load(fh)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh, indent=1, sort_keys=True)
    os.rename(tmp, out)
    siblings = sorted(
        (e for e in os.listdir(root) if e.startswith(kind + "-") and not e.endswith(".tmp")),
        key=lambda e: os.path.getmtime(os.path.join(root, e)),
    )
    for old in siblings[:-KEEP_ENTRIES]:
        shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    return out, meta


# --------------------------------------------------------------------------
# etl_refresh: platform snapshot CSVs
# --------------------------------------------------------------------------


def _quoted(values) -> list[str]:
    return ['"' + v + '"' for v in values]


def _fmt(values, fmt: str) -> list[str]:
    if fmt == "%d" or fmt == "%.1f":  # fast path: shortest repr of ints / rounded floats
        return values.astype(str).tolist()
    return [fmt % v for v in values.tolist()]


def _with_defects(rng, cells: list[str], p: float, bad: str) -> tuple[list[str], np.ndarray]:
    mask = rng.random(len(cells)) < p
    for i in np.flatnonzero(mask).tolist():
        cells[i] = bad
    return cells, mask


def _timestamps(rng, n: int, day: str) -> tuple[list[str], np.ndarray]:
    base = np.datetime64(datetime.strptime(day, "%Y%m%d") - timedelta(days=30), "s")
    stamps = base + rng.integers(0, 30 * 86400, n).astype("timedelta64[s]")
    cells = np.char.add(np.datetime_as_string(stamps, unit="s"), "+03:00").tolist()
    return _with_defects(rng, cells, BAD_DATE_P, "not-a-date")


POOL = 4096  # distinct free-text / list cells per column, drawn per row


def _pooled(rng, n: int, make) -> list[str]:
    pool = [make() for _ in range(POOL)]
    return [pool[i] for i in rng.integers(0, POOL, n).tolist()]


def _text(rng, n: int, lo: int, hi: int) -> list[str]:
    return _pooled(rng, n, lambda: " ".join(
        WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(lo, hi))).tolist()
    ))


def _addresses(rng, n: int) -> list[str]:
    city = rng.integers(0, 40, n).tolist()
    street = rng.integers(0, 900, n).tolist()
    house = rng.integers(1, 120, n).tolist()
    return _quoted(f"City{c}, Street {s}, {h}" for c, s, h in zip(city, street, house))


def _pylist(rng, n: int, fmt: str, max_len: int) -> list[str]:
    """Quoted Python-repr list cells, as the platforms export them."""
    return _pooled(rng, n, lambda: '"[' + ", ".join(
        fmt % v for v in rng.integers(1, 10_000, int(rng.integers(0, max_len + 1))).tolist()
    ) + ']"')


def _listing_core(rng, n: int, day: str) -> dict:
    """Columns every platform shares (under platform-specific names)."""
    price, bad_price = _with_defects(
        rng, _fmt(rng.integers(2_000_000, 40_000_000, n), "%d"), BAD_NUM_P, "n/a"
    )
    area, bad_area = _with_defects(
        rng, _fmt(np.round(rng.uniform(18, 150, n), 1), "%.1f"), BAD_NUM_P, "abc"
    )
    published, bad_pub = _timestamps(rng, n, day)
    return {
        "price": price,
        "area": area,
        "rooms": _fmt(rng.integers(1, 6, n), "%d"),
        "floor": _fmt(rng.integers(1, 30, n), "%d"),
        "floors": _fmt(rng.integers(5, 40, n), "%d"),
        "address": _addresses(rng, n),
        "description": _text(rng, n, 3, 25),
        "published": published,
        "lon": _fmt(np.round(rng.uniform(30, 60, n), 4), "%.4f"),
        "lat": _fmt(np.round(rng.uniform(44, 60, n), 4), "%.4f"),
        "valid": ~(bad_price | bad_area),
        "bad_num_rows": int((bad_price | bad_area).sum()),
        "bad_dates": int(bad_pub.sum()),
    }


def _dup_urls(rng, n: int, ids: list[int]) -> tuple[list[int], np.ndarray]:
    """Point DUP_P of the rows (never row 0) at an earlier row's id; return
    the ids and the keep-first survivor mask (first occurrence of each id)."""
    ids = list(ids)
    dup = rng.random(n) < DUP_P
    dup[0] = False
    src = rng.integers(0, np.arange(1, n + 1))  # src[i] in [0, i]
    for i in np.flatnonzero(dup).tolist():
        ids[i] = ids[int(src[i])]
    seen: set[int] = set()
    first = np.zeros(n, dtype=bool)
    for i, v in enumerate(ids):
        if v not in seen:
            seen.add(v)
            first[i] = True
    return ids, first


def _domclick(rng, n: int, day: str) -> tuple[dict, dict]:
    c = _listing_core(rng, n, day)
    oid = 10**9 + rng.choice(2 * 10**9, n, replace=False)
    updated, _ = _timestamps(rng, n, day)
    flags = ["True", "False", ""]
    cols = {
        "Object ID": _fmt(oid, "%d.0"),
        "Price": c["price"],
        "Price per sqm": _fmt(rng.integers(80_000, 400_000, n), "%d"),
        "Mortgage Rate": _fmt(np.round(rng.uniform(5, 20, n), 1), "%.1f"),
        "Address": c["address"],
        "Address ID": _fmt(rng.integers(1, 10**6, n), "%d"),
        "Area": c["area"],
        "Rooms": c["rooms"],
        "Floor": [f + ".0" for f in c["floor"]],
        "Description": c["description"],
        "Published Date": c["published"],
        "Updated Date": updated,
        "Seller ID": _fmt(rng.integers(1, 10**6, n), "%d"),
        "Seller Name Hash": _fmt(rng.integers(0, 2**32, n), "%08x"),
        "Company Name": [f"Company {i}" for i in rng.integers(0, 500, n).tolist()],
        "Company ID": _fmt(rng.integers(1, 10**5, n), "%d"),
        "Property Type": [("flat", "room", "house")[i] for i in rng.integers(0, 3, n).tolist()],
        "Category": ["living"] * n,
        "House Floors": c["floors"],
        "Deal Type": ["sale"] * n,
        "Discount Status": [("Active", "Expired", "")[i] for i in rng.integers(0, 3, n).tolist()],
        "Discount Value": _fmt(np.round(rng.uniform(0, 5, n), 1), "%.1f"),
        "Placement Paid": [flags[i] for i in rng.integers(0, 3, n).tolist()],
        "Big Card": [flags[i] for i in rng.integers(0, 3, n).tolist()],
        "Pin Color": _fmt(rng.integers(0, 4, n), "%d"),
        "Longitude": c["lon"],
        "Latitude": c["lat"],
        "Subway Distances": _pylist(rng, n, "%d.5", 3),
        "Subway Names": _pylist(rng, n, "'Station %d'", 3),
        "Photos URLs": _pylist(rng, n, "'s/%d.jpg'", 4),
        "Monthly Payment": _fmt(rng.integers(20_000, 300_000, n), "%d"),
        "Advance Payment": _fmt(rng.integers(0, 5_000_000, n), "%d"),
        "Auction Status": _fmt(rng.integers(0, 2, n), "%d"),
    }
    stats = {"rows": n, "expected": int(c["valid"].sum()), "dups_removed": 0,
             "bad_num_rows": c["bad_num_rows"], "bad_dates": c["bad_dates"]}
    return cols, stats


def _yandex(rng, n: int, day: str) -> tuple[dict, dict]:
    c = _listing_core(rng, n, day)
    ids, first = _dup_urls(rng, n, rng.choice(10**15, n, replace=False).tolist())
    metro = rng.integers(0, 200, n).tolist()
    cols = {
        "url_offer_yand": [f"//realty.yandex.ru/offer/{i}" for i in ids],
        "price_offer": c["price"],
        "square_total_offer": c["area"],
        "address_offer": c["address"],
        "rooms_offer": c["rooms"],
        "floor_offer": c["floor"],
        "description_offer": c["description"],
        "date_offer": c["published"],
        "type_offer": [("SECONDARY", "NEW_FLAT")[i] for i in rng.integers(0, 2, n).tolist()],
        "floors_house": c["floors"],
        "longitude": c["lon"],
        "latitude": c["lat"],
        "metro_name": [f"Station {m}" for m in metro],
        "metro_transp": [("ON_FOOT", "ON_TRANSPORT")[i] for i in rng.integers(0, 2, n).tolist()],
        "time_to_metro": _fmt(rng.integers(1, 40, n), "%d"),
        "photo_list_offer": _pylist(rng, n, "'//avatars.mds.yandex.net/%d.jpg'", 4),
        "seller": [("AGENT", "OWNER", "DEVELOPER")[i] for i in rng.integers(0, 3, n).tolist()],
        "height_offer": _fmt(np.round(rng.uniform(2.4, 3.5, n), 1), "%.1f"),
        "square_rooms_offer": _fmt(np.round(rng.uniform(8, 60, n), 1), "%.1f"),
        "previous_price_offer": _fmt(rng.integers(2_000_000, 40_000_000, n), "%d"),
    }
    stats = {"rows": n, "expected": int((first & c["valid"]).sum()),
             "dups_removed": int(n - first.sum()),
             "bad_num_rows": c["bad_num_rows"], "bad_dates": c["bad_dates"]}
    return cols, stats


def _avito(rng, n: int, day: str) -> tuple[dict, dict]:
    c = _listing_core(rng, n, day)
    ids, first = _dup_urls(rng, n, rng.choice(10**10, n, replace=False).tolist())
    m = [rng.integers(0, 200, n).tolist() for _ in range(3)]
    cols = {
        "url_offer": [f"https://avito.ru/kvartiry/{i}" for i in ids],
        "id_offer": [str(i) for i in ids],
        "price_offer": c["price"],
        "square_total_offer": c["area"],
        "address_offer": c["address"],
        "rooms_offer": c["rooms"],
        "floor_offer": c["floor"],
        "description_offer": c["description"],
        "date_offer": c["published"],
        "type_offer": [("Flat", "Room", "Studio")[i] for i in rng.integers(0, 3, n).tolist()],
        "floors_house": c["floors"],
        "sdelka_offer": [("Sale", "Rent")[i] for i in rng.integers(0, 2, n).tolist()],
        "latitude": c["lat"],
        "longitude": c["lon"],
        "metro_name1": [f"Station {v}" for v in m[0]],
        "metro_name2": [f"Station {v}" if v % 2 else "" for v in m[1]],
        "metro_name3": [f"Station {v}" if v % 3 == 0 else "" for v in m[2]],
        "distance_to_metro1": _fmt(rng.integers(100, 5000, n), "%d.0"),
        "distance_to_metro2": _fmt(rng.integers(100, 5000, n), "%d.0"),
        "distance_to_metro3": [""] * n,
        "photo_list_offer": _pylist(rng, n, "'https://img.avito.ru/%d.jpg'", 4),
        "seller": [("Agency", "Owner")[i] for i in rng.integers(0, 2, n).tolist()],
        "developer_offer": [f"Dev {v}" if v < 20 else "" for v in rng.integers(0, 100, n).tolist()],
        "height_offer": _fmt(np.round(rng.uniform(2.4, 3.5, n), 1), "%.1f"),
        "square_rooms_offer": _fmt(np.round(rng.uniform(8, 60, n), 1), "%.1f"),
        "renovation_offer": [("euro", "cosmetic", "none")[i] for i in rng.integers(0, 3, n).tolist()],
        "built_year_offer": _fmt(rng.integers(1950, 2025, n), "%d"),
        "type_house_offer": [("panel", "brick", "monolith")[i] for i in rng.integers(0, 3, n).tolist()],
    }
    stats = {"rows": n, "expected": int((first & c["valid"]).sum()),
             "dups_removed": int(n - first.sum()),
             "bad_num_rows": c["bad_num_rows"], "bad_dates": c["bad_dates"]}
    return cols, stats


_ETL_BUILDERS = {"domclick": _domclick, "yandex": _yandex, "avito": _avito}


def _write_csv(path: str, cols: dict) -> int:
    header = ",".join(cols)
    body = "\n".join(map(",".join, zip(*cols.values())))
    data = (header + "\n" + body + "\n").encode("utf-8")
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def build_etl(out: str, seed: int, rows: int, warm_rows: int) -> dict:
    meta: dict = {"dates": {}, "rows_per_snapshot": rows}
    for day, n in [(d, rows) for d in ETL_DATES] + [(ETL_WARM_DATE, warm_rows)]:
        entry = {"expected_rows": 0, "input_rows": 0, "input_bytes": 0, "platforms": {}}
        for platform in ETL_PLATFORMS:
            cols, stats = _ETL_BUILDERS[platform](_rng(seed, "etl", platform, day), n, day)
            stats["bytes"] = _write_csv(os.path.join(out, f"{platform}_{day}.csv"), cols)
            entry["platforms"][platform] = stats
            entry["expected_rows"] += stats["expected"]
            entry["input_rows"] += stats["rows"]
            entry["input_bytes"] += stats["bytes"]
        meta["dates"][day] = entry
    # cian has a snapshot in the catalog but every request skips it
    _write_csv(os.path.join(out, f"cian_{ETL_DATES[-1]}.csv"), {"anything": ["x"], "other": ["1"]})
    return meta


def etl_properties(meta: dict) -> dict:
    """The measured input properties later claims cite."""
    rows = dup = bad_num = bad_date = dedup_rows = 0
    for entry in meta["dates"].values():
        for p, st in entry["platforms"].items():
            rows += st["rows"]
            bad_num += st["bad_num_rows"]
            bad_date += st["bad_dates"]
            if p != "domclick":
                dedup_rows += st["rows"]
                dup += st["dups_removed"]
    return {
        "duplicate_key_share": dup / dedup_rows,
        "malformed_numeric_row_share": bad_num / rows,
        "malformed_date_share": bad_date / rows,
        "expected_rows_per_date": {d: e["expected_rows"] for d, e in meta["dates"].items()},
    }


# --------------------------------------------------------------------------
# query_mix: TPC-H-shaped tables
# --------------------------------------------------------------------------

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def _ts(days_from_1995: np.ndarray):
    import pyarrow as pa

    base = np.datetime64("1995-01-01", "us")
    return pa.array(base + days_from_1995.astype("timedelta64[D]"), pa.timestamp("us"))


def build_tpch(out: str, seed: int, orders: int) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng(seed, "tpch")
    n_cust, n_part, n_supp = orders // 10, orders * 2 // 15, max(orders // 150, 10)
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = np.array(["large", "hot", "blue", "small", "green", "plated"])
    noun = np.array(["ring", "bolt", "gear", "valve", "pipe", "cog"])
    kinds = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"])
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                              noun[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": kinds[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) % 20_000 / 10, 2),
    })
    odate = rng.integers(0, 2404, orders)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, orders), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, orders)],
    })
    lines = rng.integers(1, 8, orders)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(orders), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, n_li)),
    })
    meta = {"rows": {}, "bytes": {}}
    for name, t in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(t, path)
        meta["rows"][name] = t.num_rows
        meta["bytes"][name] = os.path.getsize(path)
    return meta


# --------------------------------------------------------------------------
# llm_corpus: documents with planted near-duplicates + embeddings
# --------------------------------------------------------------------------

LLM_VOCAB = 60
LLM_DIM = 64
NEAR_DUP_P = 0.08  # share of a tile's documents that are mutated copies


def shingle_set(text: str, n: int = 3) -> frozenset[str]:
    """Distinct word n-grams exactly as operators.dedup shingles them
    (split on single spaces, empties dropped, n-grams joined by a space)."""
    toks = [t for t in text.split(" ") if t != ""]
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    """Same single double division as the engine: inter / (n_a + n_b - inter)."""
    inter = float(len(a & b))
    return inter / (len(a) + len(b) - inter)


def _base_tile(rng, docs: int) -> tuple[list[list[int]], list[tuple[int, int]]]:
    """Word-id documents for one tile and its planted (source, copy) pairs.
    Each copy replaces a seeded fraction of its source's words, so planted
    Jaccard similarities spread across the 0.5 threshold."""
    lengths = rng.integers(30, 80, docs)
    words = [rng.integers(0, LLM_VOCAB, ln).tolist() for ln in lengths.tolist()]
    n_copies = int(docs * NEAR_DUP_P)
    slots = rng.choice(docs, 2 * n_copies, replace=False).tolist()
    pairs = []
    for src, dst in zip(slots[:n_copies], slots[n_copies:]):
        doc = list(words[src])
        rate = rng.uniform(0.0, 0.25)
        for i in np.flatnonzero(rng.random(len(doc)) < rate).tolist():
            doc[i] = int(rng.integers(0, LLM_VOCAB))
        words[dst] = doc
        pairs.append((min(src, dst), max(src, dst)))
    return words, pairs


def build_llm(out: str, seed: int, tiles: int, docs_per_tile: int, vecs_per_tile: int) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng(seed, "llm")
    base_words, base_pairs = _base_tile(rng, docs_per_tile)
    base_vecs = rng.standard_normal((vecs_per_tile, LLM_DIM)).astype(np.float32)
    texts, ids, pairs = [], [], []
    vec_ids, vec_rows = [], []
    for t in range(tiles):
        texts += [" ".join(f"w{w}_t{t}" for w in doc) for doc in base_words]
        ids += range(t * docs_per_tile, (t + 1) * docs_per_tile)
        pairs += [(a + t * docs_per_tile, b + t * docs_per_tile) for a, b in base_pairs]
        q, r = np.linalg.qr(_rng(seed, "rot", str(t)).standard_normal((LLM_DIM, LLM_DIM)))
        q *= np.sign(np.diag(r))
        vec_rows.append((base_vecs.astype(np.float64) @ q).astype(np.float32))
        vec_ids += range(t * vecs_per_tile, (t + 1) * vecs_per_tile)
    langs = np.array(["en", "de", "fr"])[rng.integers(0, 3, len(ids))]
    docs_t = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    vecs = np.concatenate(vec_rows)
    emb_t = pa.table({
        "vec_id": pa.array(vec_ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(np.array(vec_ids) % 10, pa.int32()),
    })
    pq.write_table(docs_t, os.path.join(out, "documents.parquet"))
    pq.write_table(emb_t, os.path.join(out, "embeddings.parquet"))
    sets = [shingle_set(s) for s in texts]
    planted = [(a, b, jaccard(sets[a], sets[b])) for a, b in pairs]
    return {
        "documents": len(ids),
        "vectors": len(vec_ids),
        "planted": planted,
        "bytes": {
            "documents": os.path.getsize(os.path.join(out, "documents.parquet")),
            "embeddings": os.path.getsize(os.path.join(out, "embeddings.parquet")),
        },
    }


def llm_properties(meta: dict, threshold: float) -> dict:
    jac = [p[2] for p in meta["planted"]]
    n = meta["documents"]
    return {
        "near_dup_pairs": len(jac),
        "near_dup_share_above": sum(j > threshold for j in jac) / n,
        "near_dup_share_at": sum(j == threshold for j in jac) / n,
        "near_dup_share_below": sum(j < threshold for j in jac) / n,
    }


# --------------------------------------------------------------------------
# sizes, cache keys and command line
# --------------------------------------------------------------------------

# Sizes keep one benchmark run near a minute on 4 cores (see README.md);
# per-request cost at these sizes is dominated by fixed overhead anyway.
SIZES = {
    "etl": {"rows": 5_000, "warm_rows": 500},  # rows per platform snapshot
    "tpch": {"orders": 10_000},  # lineitem ~4x
    "llm": {"tiles": 2, "docs_per_tile": 500, "vecs_per_tile": 400},
}
PARTS = {
    "etl_refresh": ("etl",),
    "query_mix": ("tpch",),
    "llm_corpus": ("llm",),
    "analytics_mix": ("tpch", "llm"),
}
BUILDERS = {"etl": build_etl, "tpch": build_tpch, "llm": build_llm}


def inputs(workload: str, work: str, seed: int, sizes: dict = SIZES) -> tuple[str, dict]:
    """(directory, meta) of the workload's inputs for `seed`; meta holds one
    entry per input part ("etl", "tpch", "llm")."""
    parts = PARTS[workload]
    key = "-".join([f"s{seed}"] + [f"{k}{v}" for p in parts for k, v in sizes[p].items()])
    return _cached(work, workload, key,
                   lambda out: {p: BUILDERS[p](out, seed, **sizes[p]) for p in parts})


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description="Generate (or reuse) a workload's inputs.")
    ap.add_argument("workload", choices=sorted(PARTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--work", required=True, help="work directory holding the cache")
    args = ap.parse_args()
    print(inputs(args.workload, args.work, args.seed)[0])

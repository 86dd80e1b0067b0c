"""Seeded input generators for the benchmark.

Two generators, both pure NumPy/pyarrow/json so the engine under test sees
only finished files:

* ``write_tables`` writes the ten TPC-H-ish + LLM-corpus tables the
  registered queries read, as a multi-file Parquet directory per table.
  Column domains mirror the engine's reference test data (same names,
  types and value sets); sizes follow the scale factor.
* ``write_backfill_fixture`` writes a paged-REST fixture (one JSON file per
  month window and page) in the layout the ``paged_rest`` source's fixture
  transport reads, with duplicate ids, null posters and empty or unknown
  genre lists. ``expected_master`` is an independent pure-Python model of
  what the backfill must produce from it.
"""

from __future__ import annotations

import json
import os
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Parquet files per table: enough scan tasks for a few local cores.
FILES_PER_TABLE = 4

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

GENRE_MAP = {
    28: "Action", 12: "Adventure", 16: "Animation", 35: "Comedy", 80: "Crime",
    18: "Drama", 14: "Fantasy", 27: "Horror", 10749: "Romance", 878: "Science Fiction",
}
IMAGE_BASE = "https://image.tmdb.org/t/p/"
POSTER_SIZE = "w500"


def table_sizes(scale: float) -> dict[str, int]:
    """Row counts per table at ``scale`` (0.1 = 600k lineitem rows)."""
    return {
        "customer": int(150_000 * scale),
        "supplier": int(10_000 * scale),
        "part": int(200_000 * scale),
        "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale),
        "events": int(1_000_000 * scale),
        "users": int(15_000 * scale),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _days(rng, n: int, lo: date, hi: date) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in range(n)]


def build_tables(scale: float, seed: int = 42) -> dict[str, pa.Table]:
    """All ten tables as in-memory Arrow tables."""
    rng = np.random.default_rng(seed)
    n = table_sizes(scale)
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n["customer"]), i64),
            "c_name": _keyed_names("Customer", n["customer"]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["supplier"]), i64),
            "s_name": _keyed_names("Supplier", n["supplier"]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n["part"]), i64),
            "p_name": rng.choice(names, n["part"]),
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n["part"]) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n["orders"]), i64),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000, 500_000, n["orders"]),
            "o_orderdate": _days(rng, n["orders"], date(1995, 1, 1), date(2001, 8, 1)),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), i64),
            "l_partkey": pa.array(rng.integers(0, n["part"], nl), i64),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, nl),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(rng, nl, date(1995, 1, 2), date(2001, 11, 4)),
        }
    )
    ne = n["events"]
    gaps = rng.exponential(1.0, ne)
    offs_us = (np.cumsum(gaps) / gaps.sum() * (30 * 86400 - 60) * 1e6).astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), i64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us") + offs_us.astype("timedelta64[us]"),
            "user_id": pa.array(rng.integers(0, max(n["users"], 1), ne), i64),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.round(rng.lognormal(3.5, 1.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), i64),
            "text": texts,
            "lang": rng.choice(LANGS, nd, p=LANG_P),
            "source": [f"src{k % 20}" for k in range(nd)],
            "n_chars": pa.array([len(s) for s in texts], i64),
        }
    )
    nv = n["embeddings"]
    centroids = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = rng.normal(0, 1, (nv, 64)) * 7 + centroids[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), i64),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return t


def write_tables(dst: str, scale: float) -> int:
    """Write every table under ``dst/<name>.parquet/``; returns bytes written."""
    total = 0
    for name, tbl in build_tables(scale).items():
        d = os.path.join(dst, f"{name}.parquet")
        os.makedirs(d)
        step = -(-tbl.num_rows // FILES_PER_TABLE)
        for k in range(FILES_PER_TABLE):
            part = tbl.slice(k * step, step)
            if part.num_rows == 0 and k > 0:
                break
            path = os.path.join(d, f"part-{k:05d}.parquet")
            pq.write_table(part, path)
            total += os.path.getsize(path)
    return total


# -- paged-REST backfill fixture ---------------------------------------------


def month_keys(first: date, months: int) -> list[tuple[str, str]]:
    """``months`` calendar-month (start, end) windows starting at ``first``."""
    out = []
    cur = first
    for _ in range(months):
        nxt = date(cur.year + (cur.month == 12), cur.month % 12 + 1, 1)
        out.append((cur.isoformat(), (nxt - timedelta(days=1)).isoformat()))
        cur = nxt
    return out


def backfill_records(
    seed: int, months: int, pages: int, per_page: int, first: date
) -> dict[tuple[str, str], list[list[dict]]]:
    """{window: [page records, ...]} with ~5% duplicate ids (within and
    across months), ~10% null posters, and empty or unknown genre lists.
    Duplicate copies get their own popularity, so every survivor is
    decided by the ordering rather than a tie."""
    rng = np.random.default_rng(seed)
    genres = list(GENRE_MAP)
    next_id = 1000
    seen: list[int] = []
    out: dict[tuple[str, str], list[list[dict]]] = {}
    for lo, hi in month_keys(first, months):
        d0 = date.fromisoformat(lo)
        span = (date.fromisoformat(hi) - d0).days + 1
        month_pages = []
        for _ in range(pages):
            recs = []
            for _ in range(per_page):
                if seen and rng.random() < 0.05:
                    mid = seen[int(rng.integers(max(0, len(seen) - 3000), len(seen)))]
                else:
                    mid = next_id
                    next_id += int(rng.integers(1, 4))
                    seen.append(mid)
                u = rng.random()
                if u < 0.05:
                    gids: list[int] = []
                elif u < 0.08:
                    gids = [9999, int(rng.choice(genres))]
                else:
                    gids = sorted({int(g) for g in rng.choice(genres, int(rng.integers(1, 4)))})
                rel = None if rng.random() < 0.02 else (d0 + timedelta(days=int(rng.integers(0, span)))).isoformat()
                recs.append(
                    {
                        "id": mid,
                        "title": f"Movie {mid} v{int(rng.integers(0, 1000))}",
                        "original_title": f"Original {mid}",
                        "release_date": rel,
                        "genre_ids": gids,
                        "vote_average": round(float(rng.uniform(0, 10)), 1),
                        "vote_count": int(rng.integers(0, 20000)),
                        "popularity": round(float(rng.uniform(0, 1000)), 6),
                        "original_language": str(rng.choice(LANGS)),
                        "overview": " ".join(rng.choice(VOCAB, int(rng.integers(8, 40)))),
                        "poster_path": None if rng.random() < 0.1 else f"/p{mid}_{int(rng.integers(0, 10**6))}.jpg",
                        "adult": False,
                    }
                )
            month_pages.append(recs)
        out[(lo, hi)] = month_pages
    return out


def write_backfill_fixture(dst: str, records: dict) -> int:
    """Write the pages as ``{from}_{to}_p{page}.json``; returns bytes written."""
    os.makedirs(dst, exist_ok=True)
    total = 0
    for (lo, hi), month_pages in records.items():
        for p, recs in enumerate(month_pages, start=1):
            path = os.path.join(dst, f"{lo}_{hi}_p{p}.json")
            with open(path, "w") as f:
                json.dump({"page": p, "total_pages": len(month_pages), "results": recs}, f)
            total += os.path.getsize(path)
    return total


def expected_master(records: dict, windows: list[tuple[str, str]] | None = None) -> list[tuple]:
    """The backfill's master table, computed without Spark: normalize each
    record, keep one row per (month, id) by popularity desc, then one row
    per id by earliest month then popularity desc. Sorted by id."""
    by_month: dict[tuple[str, str], dict[int, dict]] = {}
    for win, month_pages in records.items():
        if windows is not None and win not in windows:
            continue
        best = by_month.setdefault(win, {})
        for recs in month_pages:
            for r in recs:
                cur = best.get(r["id"])
                if cur is None or r["popularity"] > cur["popularity"]:
                    best[r["id"]] = r
    master: dict[int, tuple] = {}
    for win in sorted(by_month):
        for mid, r in by_month[win].items():
            if mid not in master:
                master[mid] = _normalize(r)
    return [master[k] for k in sorted(master)]


def _normalize(r: dict) -> tuple:
    gids = r["genre_ids"] or []
    poster = r["poster_path"]
    return (
        r["id"],
        r["title"],
        r["original_title"],
        r["release_date"],
        "|".join(GENRE_MAP.get(g, str(g)) for g in gids),
        float(r["vote_average"]),
        r["vote_count"],
        float(r["popularity"]),
        r["original_language"],
        r["overview"],
        f"{IMAGE_BASE}{POSTER_SIZE}{poster}" if poster else None,
    )


def month_rows(records: dict, windows) -> int:
    """Rows the backfill reports for ``windows``: one per (month, id)."""
    return sum(
        len({r["id"] for recs in records[w] for r in recs}) for w in windows
    )


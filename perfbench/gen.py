"""Seeded input generators.  The same seed always gives the same inputs;
the program under test only ever sees what these functions produce.

- review feeds: each place publishes reviews newest-first; review `i` of
  a place is a pure function of (seed, place, i), so the fetcher can be
  shipped to Spark workers as a few integers instead of data;
- restaurant landing files for the event DAG, with a seeded share of
  invalid rows and re-landed restaurants;
- the TPC-H-shaped tables, documents and embeddings the curation
  queries read, written as parquet with the column types the query
  registry expects.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_AUTHORS = ["민지", "서준", "하은", "도윤", "지우", "예준", "수아", "시우", "익명", "foodie"]
_OPENERS = ["맛있어요", "또 올게요", "친절해요", "웨이팅 길어요", "가성비 좋아요",
            "분위기 최고", "양이 많아요", "재방문 의사 있음", "깔끔해요", "그냥 그래요"]
_DISHES = ["김치찌개", "비빔밥", "국수", "곱창", "삼겹살", "냉면", "떡볶이", "만두", "칼국수", "파스타"]
_DOW = "월화수목금토일"


def _h(*parts: object) -> int:
    """Stable 64-bit hash of the parts (Python's hash() is salted per process)."""
    digest = hashlib.blake2b("|".join(map(str, parts)).encode(), digest_size=8).digest()
    return int.from_bytes(digest, "little")


def review_row(seed: int, place_id: str, i: int) -> dict:
    """Review number `i` (0 = oldest) of one place, in the fetcher's raw
    shape.  The trailing number keeps every review of a place distinct, so
    its sha256 identity is unique within the place."""
    h = _h(seed, place_id, i)
    month, day = 1 + h % 12, 1 + (h >> 8) % 28
    return {
        "author": _AUTHORS[(h >> 16) % len(_AUTHORS)],
        "content": f"{_DISHES[(h >> 24) % len(_DISHES)]} {_OPENERS[(h >> 32) % len(_OPENERS)]} #{i}",
        "visit_date": f"{month}.{day}.{_DOW[(h >> 40) % 7]}",
        "place_id": place_id,
    }


def newest_first_page(seed: int, place_id: str, published: int, page: int, page_size: int) -> list[dict]:
    """Page `page` (1-based) of a newest-first feed holding `published` reviews."""
    hi = published - (page - 1) * page_size
    lo = max(0, hi - page_size)
    return [review_row(seed, place_id, i) for i in range(hi - 1, lo - 1, -1)]


def place_ids(seed: int, n: int, base: int = 1_000_000) -> list[str]:
    """`n` distinct numeric place ids (the API payload casts them to long)."""
    rng = random.Random(_h(seed, "places"))
    return [str(base + x) for x in rng.sample(range(9_000_000), n)]


# -- event DAG ---------------------------------------------------------------


def restaurant_row(place_id: str | None, name: str | None, h: int) -> dict:
    gu = ["마포구", "강남구", "종로구", "성동구"][h % 4]
    addr = f"서울특별시 {gu} 테헤란로 {1 + h % 400}"
    return {
        "place_id": place_id,
        "name": name,
        "thumbnail_url": "" if h % 3 else f"https://img.example/{h % 997}.jpg",
        "category": ["한식", "중식", "일식", "양식"][(h >> 4) % 4],
        "page": 1 + (h >> 8) % 4,
        "origin_address": f"{addr} {1 + (h >> 12) % 9}층",
        "address": addr,
        "latitude": None if h % 10 == 0 else 37.45 + (h >> 16) % 1000 / 5000,
        "longitude": None if h % 10 == 0 else 126.85 + (h >> 26) % 1000 / 3000,
    }


def landing_files(seed: int, n_files: int, rows_per_file: int, new_per_file: int,
                  invalid_share: float = 0.4) -> list[list[dict]]:
    """`n_files` restaurant JSON files of `rows_per_file` rows.  Exactly
    `new_per_file` rows of each file are new restaurants, so every
    activation fans out the same number of keys.  Each other row is
    invalid (null place_id or name, dropped by require_fields) with
    probability `invalid_share`, and otherwise re-lands an identical copy
    of a restaurant landed earlier or in the same file (removed by
    dropDuplicates or the anti join against the store).  Rows sit in
    seeded positions."""
    rng = random.Random(_h(seed, "landing"))
    ids = iter(place_ids(seed, n_files * rows_per_file, base=2_000_000))
    landed: list[dict] = []
    files = []
    for f in range(n_files):
        fresh = []
        for r in range(new_per_file):
            pid = next(ids)
            fresh.append(restaurant_row(pid, f"식당 {pid}", _h(seed, "rest", f, r)))
        rows = list(fresh)
        for r in range(new_per_file, rows_per_file):
            h = _h(seed, "rest", f, r)
            if rng.random() < invalid_share:
                pid = next(ids)
                rows.append(restaurant_row(None, f"식당 {pid}", h) if h % 2
                            else restaurant_row(pid, None, h))
            else:
                rows.append(dict(rng.choice(landed + fresh)))
        rng.shuffle(rows)
        landed.extend(fresh)
        files.append(rows)
    return files


# -- curation query tables ---------------------------------------------------

_WORDS = ("key agg row scan slow fast table value part hash merge batch spark a the line "
          "sort window order data column join small customer query big filter group stream "
          "vector").split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _ts(days: np.ndarray, start: dt.datetime) -> pa.Array:
    us = (np.datetime64(start, "us") + (days * 86_400_000_000).astype("timedelta64[us]"))
    return pa.array(us, pa.timestamp("us"))


def write_query_tables(out_dir: str, seed: int, scale: float = 0.01) -> None:
    """Write region, nation, customer, orders, lineitem, events, documents
    and embeddings as parquet under `out_dir`.  `scale` 0.01 gives 60k
    lineitem rows, 10k events, 500 documents and 500 embeddings."""
    rng = np.random.default_rng(_h(seed, "tables"))
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord, n_li = int(150_000 * scale), int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_doc, n_emb = int(1_000_000 * scale), int(50_000 * scale), int(50_000 * scale)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord), dt.datetime(1995, 1, 1)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, 2000, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(rng.integers(1, 2499, n_li), dt.datetime(1995, 1, 1)),
    })
    # events: sorted microsecond timestamps over 30 days; ~2% of rows
    # repeat an earlier (user, type, ts) under a new event_id, so the
    # flagship's keep-first dedup has duplicates to drop
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    user = rng.integers(0, min(150, n_cust), n_ev).astype(np.int64)
    etype = rng.choice(["click", "view", "purchase", "signup", "error"], n_ev)
    dup = np.flatnonzero(rng.random(n_ev) < 0.02)
    src = rng.integers(0, n_ev, dup.size)
    offs[dup], user[dup], etype[dup] = offs[src], user[src], etype[src]
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": user,
        "event_type": etype,
        "value": np.round(rng.uniform(0, 100, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: word-salad over the retrieval vocabulary; ~6% are copies
    # of an earlier document with at most one word changed (near-dups)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.06:
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(10, 90))))
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_emb)
    vecs = (centers[label] + rng.normal(0, 1.2, (n_emb, 64))) / 8.0
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))

"""Seeded input generators for the benchmark workloads.

Every table and drop is a pure function of the seed: the same seed writes
byte-identical files, a different seed different ones. Each table draws from
its own stream (``numpy.random.default_rng([seed, stream])``), so adding a
table never shifts the values of another.

Shapes follow the engine's own tables (``pandemic_knowledge_spark.tables``):
``documents``/``embeddings`` for search, ``events``/``orders``/``lineitem``
for Kibana-style panels, plus an OWID-conformed ``facts`` table for the
``Engine.dashboard_*`` panels and the OWID CSV / news-doc drops the ingest
flows consume.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at the engine's sf0.1 sizing (documents 5000, embeddings 2000,
# events 100k, orders 150k, lineitem 600k).
N_DOCS = 5000
N_VECS = 2000
VEC_DIM = 64
N_LABELS = 8
N_EVENTS = 100_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_FACTS = 40_000
VOCAB_SIZE = 4000
ZIPF_S = 1.1

EVENT_TYPES = ("view", "click", "search", "signup", "purchase", "error", "share")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_SPAN_S = 180 * 86400
ORDERS_START = dt.datetime(1992, 1, 1)
ORDERS_SPAN_D = 7 * 365
FACTS_START = dt.date(2020, 3, 1)
FACTS_SPAN_D = 400

_SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]
_STOPWORDS = {"the", "a", "an", "and", "of", "to", "in", "is", "it", "that"}


def rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream) pair. Only the first 8 bytes
    of ``stream`` key it, so stream names must differ within them."""
    return np.random.default_rng([seed, int.from_bytes(stream.encode()[:8], "little")])


def write_parquet(table: pa.Table, path: str) -> int:
    """Write one single-row-group parquet file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


# --------------------------------------------------------------------- text


def vocabulary(seed: int, size: int = VOCAB_SIZE) -> list[str]:
    """``size`` distinct lowercase words of 2-4 syllables, rank-ordered: a
    word's index is its Zipf rank in every corpus drawn from this seed."""
    r = rng(seed, "vocab")
    words: list[str] = []
    seen = set(_STOPWORDS)
    while len(words) < size:
        n = int(r.integers(2, 5))
        w = "".join(_SYLLABLES[i] for i in r.integers(0, len(_SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_ranks(r: np.random.Generator, n: int, vocab_size: int,
               s: float = ZIPF_S) -> np.ndarray:
    """``n`` word ranks drawn from a finite Zipf(s) over ``vocab_size``."""
    w = 1.0 / np.arange(1, vocab_size + 1) ** s
    return r.choice(vocab_size, size=n, p=w / w.sum())


def _texts(r: np.random.Generator, vocab: list[str], n: int,
           lo: int, hi: int) -> list[str]:
    lens = r.integers(lo, hi, n)
    ranks = zipf_ranks(r, int(lens.sum()), len(vocab))
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(vocab[i] for i in ranks[at:at + ln]))
        at += ln
    return out


def documents(seed: int, vocab: list[str], n: int = N_DOCS) -> pa.Table:
    r = rng(seed, "docs")
    texts = _texts(r, vocab, n, 20, 140)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * n),
        "source": pa.array([f"src{i % 7}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(seed: int, n: int = N_VECS, dim: int = VEC_DIM,
               n_labels: int = N_LABELS) -> pa.Table:
    """Unit vectors around ``n_labels`` cluster centres; ``vec_id`` equals
    the ``doc_id`` it embeds, so hybrid requests fuse by id."""
    r = rng(seed, "emb")
    centres = r.normal(size=(n_labels, dim))
    labels = r.integers(0, n_labels, n)
    vecs = centres[labels] + 0.6 * r.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def query_vector(seed: int, i: int, dim: int = VEC_DIM) -> list[float]:
    v = rng(seed, f"qv{i}").normal(size=dim)
    return [float(x) for x in (v / np.linalg.norm(v)).astype(np.float32)]


# ------------------------------------------------------------------ panels


def events(seed: int, n: int = N_EVENTS) -> pa.Table:
    r = rng(seed, "events")
    offs = np.sort(r.integers(0, EVENTS_SPAN_S * 1_000_000, n))
    ts = np.datetime64(EVENTS_START, "us") + offs.astype("timedelta64[us]")
    etype = r.choice(len(EVENT_TYPES), n, p=[.4, .25, .15, .05, .08, .04, .03])
    lat = np.round(r.uniform(-60, 70, n), 4)
    lon = np.round(r.uniform(-180, 180, n), 4)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(zipf_ranks(r, n, 5000).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in etype]),
        "value": pa.array(np.round(r.gamma(2.0, 8.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
        "loc": pa.StructArray.from_arrays(
            [pa.array(lat), pa.array(lon)], names=["lat", "lon"]),
    })


def orders(seed: int, n: int = N_ORDERS) -> pa.Table:
    r = rng(seed, "orders")
    days = r.integers(0, ORDERS_SPAN_D, n)
    od = np.datetime64(ORDERS_START, "us") + (days * 86400 * 1_000_000).astype(
        "timedelta64[us]")
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, 15000, n).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in r.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(r.uniform(900, 500000, n), 2)),
        "o_orderdate": pa.array(od, pa.timestamp("us")),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in r.integers(0, 5, n)]),
    })


def lineitem(seed: int, n_orders: int = N_ORDERS, n: int = N_LINEITEM) -> pa.Table:
    r = rng(seed, "lineitem")
    days = r.integers(0, ORDERS_SPAN_D + 120, n)
    sd = np.datetime64(ORDERS_START, "us") + (days * 86400 * 1_000_000).astype(
        "timedelta64[us]")
    qty = r.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(r.integers(0, n_orders, n).astype(np.int64)),
        "l_partkey": pa.array(r.integers(0, 20000, n).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, 1000, n).astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * r.uniform(900, 2100, n), 2)),
        "l_discount": pa.array(np.round(r.integers(0, 11, n) / 100.0, 2)),
        "l_tax": pa.array(np.round(r.integers(0, 9, n) / 100.0, 2)),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in r.integers(0, 3, n)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in r.integers(0, 2, n)]),
        "l_shipdate": pa.array(sd, pa.timestamp("us")),
    })


# ---------------------------------------------------------------- ingest


def locations(seed: int, n: int = 60) -> list[tuple[str, str, float, float, int]]:
    """(name, iso2, lat, lon, population) rows of the lookup dimension."""
    r = rng(seed, "locations")
    names = sorted({w.capitalize() for w in vocabulary(seed + 7919, n * 2)})[:n]
    out = []
    for i, name in enumerate(names):
        iso2 = chr(65 + i // 26) + chr(65 + i % 26)
        out.append((name, iso2, round(float(r.uniform(-50, 65)), 4),
                    round(float(r.uniform(-170, 170)), 4),
                    int(r.integers(100_000, 90_000_000))))
    return out


def facts(seed: int, n: int = N_FACTS) -> pa.Table:
    """OWID-conformed fact rows (the ``conform_owid`` output columns the
    dashboard panels read)."""
    r = rng(seed, "facts")
    locs = locations(seed)
    li = r.integers(0, len(locs), n)
    day = r.integers(0, FACTS_SPAN_D, n)
    ds = np.datetime64(FACTS_START, "us") + (day * 86400 * 1_000_000).astype(
        "timedelta64[us]")
    return pa.table({
        "date_start": pa.array(ds, pa.timestamp("us")),
        "location_name": pa.array([locs[i][0] for i in li]),
        "confirmed": pa.array(r.integers(0, 5000, n).astype(np.int64)),
        "deaths": pa.array(r.integers(0, 80, n).astype(np.int64)),
        "vaccinated": pa.array(r.integers(0, 20000, n).astype(np.int64)),
        "tested": pa.array(r.integers(0, 40000, n).astype(np.int64)),
        "iso_code2": pa.array([locs[i][1] for i in li]),
        "geo": pa.StructArray.from_arrays(
            [pa.array([locs[i][2] for i in li]), pa.array([locs[i][3] for i in li])],
            names=["lat", "lon"]),
    })


def lookup_csv(seed: int) -> str:
    lines = ["UID,iso2,iso3,code3,FIPS,Admin2,Province_State,Country_Region,"
             "Lat,Long_,Combined_Key,Population"]
    for i, (name, iso2, lat, lon, pop) in enumerate(locations(seed)):
        lines.append(f"{i},{iso2},{iso2}X,{i},,,,{name},{lat},{lon},{name},{pop}")
    return "\n".join(lines) + "\n"


OWID_HEADER = ("date", "location", "new_cases", "new_deaths",
               "new_vaccinations", "new_tests")


def owid_rows(seed: int, tick: int, n: int = 40) -> list[tuple[str, ...]]:
    """One drop of OWID-shaped rows: mixed date spellings, blank numerics,
    and unknown locations the conform step must drop."""
    r = rng(seed, f"owid{tick}")
    locs = locations(seed)
    rows = []
    for _ in range(n):
        day = FACTS_START + dt.timedelta(days=int(r.integers(0, FACTS_SPAN_D)))
        style = int(r.integers(0, 10))
        if style < 7:
            date = day.isoformat()
        elif style < 9:
            date = day.strftime("%d-%m-%Y")
        else:
            date = day.strftime("%Y/%m/%d")
        if r.random() < 0.1:
            loc = f"Nowhere{int(r.integers(0, 1000))}"
        else:
            loc = locs[int(r.integers(0, len(locs)))][0]
        nums = [str(int(v)) if r.random() > 0.15 else ""
                for v in r.integers(0, 5000, 4)]
        if nums[0] == "":
            nums[0] = "0"
        rows.append((date, loc, *nums))
    return rows


def owid_csv(rows: list[tuple[str, ...]], delimiter: str = ",") -> str:
    body = [delimiter.join(OWID_HEADER)] + [delimiter.join(r) for r in rows]
    return "\n".join(body) + "\n"


def marker_term(seed: int, tick: int) -> str:
    """A token no generated vocabulary contains (digits never appear in
    vocabulary words): searchable only once its drop is indexed."""
    return f"mk{seed}t{tick}"


def news_drop(seed: int, tick: int, vocab: list[str], first_id: int,
              history: list[str], n_fresh: int = 12, n_dups: int = 4,
              n_twins: int = 2) -> tuple[pa.Table, dict]:
    """One news-doc drop: ``n_fresh`` fresh docs (the first carries the
    tick's marker term), ``n_dups`` near-duplicates of already accepted
    ``history`` docs (last token replaced: 2-shingle Jaccard ~0.98, far
    above the 0.5 threshold) and ``n_twins`` within-drop pairs, of which
    only the lower id may be accepted. Returns the (doc_id, text) table and
    the planted outcome ``{"accepted": ids, "rejected": ids}``."""
    r = rng(seed, f"news{tick}")
    fresh = _texts(r, vocab, n_fresh, 60, 120)
    fresh[0] = f"{fresh[0]} {marker_term(seed, tick)}"
    ids, texts, accepted, rejected = [], [], [], []
    nid = first_id
    for t in fresh:
        ids.append(nid); texts.append(t); accepted.append(nid); nid += 1
    for j in r.choice(len(history), size=min(n_dups, len(history)), replace=False):
        toks = history[int(j)].split()
        toks[-1] = vocab[(vocab.index(toks[-1]) + 1) % len(vocab)] \
            if toks[-1] in vocab else vocab[0]
        ids.append(nid); texts.append(" ".join(toks)); rejected.append(nid); nid += 1
    for t in _texts(r, vocab, n_twins, 60, 120):
        toks = t.split()
        twin = " ".join(toks[:-1] + [vocab[(vocab.index(toks[-1]) + 1) % len(vocab)]])
        ids += [nid, nid + 1]; texts += [t, twin]
        accepted.append(nid); rejected.append(nid + 1); nid += 2
    table = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)})
    return table, {"accepted": accepted, "rejected": rejected}

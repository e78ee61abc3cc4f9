"""Seeded input generators for the benchmark.

Everything here is a pure function of its seed: the same seed writes
byte-identical inputs. The engine only ever sees the files written here.

- ``write_catalogue_pages``: fashion-catalogue HTML pages in the
  reference site's card markup, with its dirty-card mix. Returns the
  ground truth it rendered: the rows the cleaned CSV must hold.
- ``write_tables``: the star-schema + events + documents + embeddings
  tables the plans read, shaped like the generated test tables
  (same schemas, key ranges and value domains).
- ``stage_event_stream``: the events file staged for a file-source
  stream replay, plus a far-future sentinel event that advances the
  watermark past every real window.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The transform's currency constant (USD -> IDR).
USD_TO_IDR = 16000.0

_KINDS = ("T-shirt", "Jacket", "Pants", "Hoodie", "Outerwear", "Crewneck")
_SIZES = ("S", "M", "L", "XL", "XXL")
_GENDERS = ("Men", "Women", "Unisex")

# Dirty-card mix, as shares of all cards. Each kind is dropped by the
# pipeline: a missing title by the parser, the rest by the transform.
_DIRTY = (
    ("unknown_product", 0.05),
    ("price_unavailable", 0.03),
    ("invalid_rating", 0.03),
    ("not_rated", 0.02),
    ("no_title", 0.02),
)

_P = '<p style="font-size: 14px; color: #777;">'


def _card(title: str | None, price: str, rating: str, colors: int, size: str,
          gender: str, price_tag: str = "span") -> str:
    head = f'<h3 class="product-title">{title}</h3>' if title is not None else ""
    return (
        '<div class="collection-card">'
        '<div style="position: relative;">'
        '<img src="https://picsum.photos/280/350" class="collection-image">'
        "</div>"
        f'<div class="product-details">{head}'
        f'<div class="price-container"><{price_tag} class="price">{price}'
        f"</{price_tag}></div>"
        f"{_P}Rating: {rating}</p>{_P}{colors} Colors</p>"
        f"{_P}Size: {size}</p>{_P}Gender: {gender}</p>"
        "</div></div>"
    )


def write_catalogue_pages(
    out_dir: str, seed: int, pages: int, cards_per_page: int, timestamp: str
) -> list[tuple]:
    """Write ``pages`` HTML files; return the expected clean rows as
    (title, price, rating, colors, size, gender, timestamp) tuples."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    kinds = [k for k, _ in _DIRTY]
    cut = np.cumsum([p for _, p in _DIRTY])
    expected: list[tuple] = []
    n = 0
    for page in range(pages):
        cards = []
        for _ in range(cards_per_page):
            n += 1
            title = f"{_KINDS[rng.integers(len(_KINDS))]} {n}"
            cents = int(rng.integers(1000, 50000))
            price = f"${cents // 100}.{cents % 100:02d}"
            rating = f"{rng.integers(10, 51) / 10:.1f}"
            colors = int(rng.integers(1, 9))
            size = _SIZES[rng.integers(len(_SIZES))]
            gender = _GENDERS[rng.integers(len(_GENDERS))]
            u = rng.random()
            dirty = kinds[int(np.searchsorted(cut, u, side="right"))] if u < cut[-1] else None
            if dirty == "unknown_product":
                cards.append(_card("Unknown Product", price, f"⭐ {rating} / 5", colors, size, gender))
            elif dirty == "price_unavailable":
                cards.append(_card(title, "Price Unavailable", f"⭐ {rating} / 5", colors, size, gender, "p"))
            elif dirty == "invalid_rating":
                cards.append(_card(title, price, "Invalid Rating / 5", colors, size, gender))
            elif dirty == "not_rated":
                cards.append(_card(title, price, "Not Rated", colors, size, gender))
            elif dirty == "no_title":
                cards.append(_card(None, price, f"⭐ {rating} / 5", colors, size, gender))
            else:
                cards.append(_card(title, price, f"⭐ {rating} / 5", colors, size, gender))
                expected.append((title, float(price[1:]) * USD_TO_IDR, float(rating),
                                 colors, size, gender, timestamp))
        html = (
            "<html><head><title>Fashion Studio</title></head><body>"
            '<div class="collection-grid" id="collectionList">'
            + "".join(cards)
            + "</div></body></html>"
        )
        with open(os.path.join(out_dir, f"page{page + 1:05d}.html"), "w", encoding="utf-8") as f:
            f.write(html)
    return expected


_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "es", "zh", "de", "fr")

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(len(values), size=n)], pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def write_region(sf_dir: str) -> None:
    """The five-row region table: the first parquet file a session reads."""
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                             "r_name": pa.array(_REGIONS)}),
                   os.path.join(sf_dir, "region.parquet"))


EVENTS_PART = "part-00000.parquet"


def write_tables(sf_dir: str, seed: int, sf: float) -> None:
    """Write the ten tables at scale factor ``sf``. ``events.parquet`` is
    a directory with one part file, so the same file serves both the
    batch plans and the stream replay."""
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(sf_dir, f"{name}.parquet"))

    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    f64 = lambda a: pa.array(a, pa.float64())  # noqa: E731

    write_region(sf_dir)
    put("nation", {
        "n_nationkey": i32(np.arange(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32(np.arange(25) % 5),
    })
    put("customer", {
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": i32(rng.integers(25, size=n_cust)),
        "c_acctbal": f64(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    put("supplier", {
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": i32(rng.integers(25, size=n_supp)),
        "s_acctbal": f64(_money(rng, -999.99, 9999.99, n_supp)),
    })
    adj = np.asarray(_ADJ, dtype=object)[rng.integers(8, size=n_part)]
    noun = np.asarray(_NOUN, dtype=object)[rng.integers(8, size=n_part)]
    put("part", {
        "p_partkey": i64(np.arange(n_part)),
        "p_name": pa.array(adj + " " + noun, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)]),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": i32(rng.integers(1, 51, size=n_part)),
        "p_retailprice": f64(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)),
    })
    put("orders", {
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(n_cust, size=n_ord)),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": f64(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, size=n_ord) * _DAY_US),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    put("lineitem", {
        "l_orderkey": i64(rng.integers(n_ord, size=n_line)),
        "l_partkey": i64(rng.integers(n_part, size=n_line)),
        "l_suppkey": i64(rng.integers(n_supp, size=n_line)),
        "l_linenumber": i32(rng.integers(1, 8, size=n_line)),
        "l_quantity": f64(rng.integers(1, 51, size=n_line).astype(float)),
        "l_extendedprice": f64(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": f64(rng.integers(0, 11, size=n_line) / 100),
        "l_tax": f64(rng.integers(0, 9, size=n_line) / 100),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, size=n_line) * _DAY_US),
    })

    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, size=n_ev))
    events = pa.table({
        "event_id": i64(np.arange(n_ev)),
        "ts": _ts(ts),
        "user_id": i64(rng.integers(max(150, int(15_000 * sf)), size=n_ev)),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": f64(np.round(rng.exponential(60.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(100, size=n_ev)]),
    })
    ev_dir = os.path.join(sf_dir, "events.parquet")
    os.makedirs(ev_dir, exist_ok=True)
    pq.write_table(events, os.path.join(ev_dir, EVENTS_PART))

    texts: list[str] = []
    for _ in range(n_doc):
        if texts and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(len(texts)))] + " dup")
        else:
            words = np.asarray(_WORDS, dtype=object)[rng.integers(len(_WORDS), size=int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
    put("documents", {
        "doc_id": i64(np.arange(n_doc)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.asarray(_LANGS, dtype=object)[
            np.searchsorted([0.4, 0.55, 0.7, 0.85], rng.random(n_doc), side="right")], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": i64([len(t) for t in texts]),
    })

    labels = rng.integers(10, size=n_emb)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] * 0.5 + rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": i64(np.arange(n_emb)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(labels),
    })


# 2100-01-01 UTC: later than every generated event, so its arrival moves
# the watermark past every real window and session.
SENTINEL_EPOCH_S = 4_102_444_800


def stage_event_stream(sf_dir: str, stream_root: str) -> str:
    """Stage the events part file plus the sentinel under
    ``<stream_root>/events.parquet`` with increasing modification times
    (the file source's order), and return ``stream_root``. The sentinel
    row has negative ids, so readers filter it out of every sink."""
    dst = os.path.join(stream_root, "events.parquet")
    os.makedirs(dst, exist_ok=True)
    os.link(os.path.join(sf_dir, "events.parquet", EVENTS_PART), os.path.join(dst, EVENTS_PART))
    sentinel = pa.table({
        "event_id": pa.array([-1], pa.int64()),
        "ts": pa.array([SENTINEL_EPOCH_S * 10**6], pa.timestamp("us")),
        "user_id": pa.array([-1], pa.int64()),
        "event_type": pa.array(["sentinel"], pa.string()),
        "value": pa.array([0.0], pa.float64()),
        "props": pa.array([None], pa.string()),
    })
    pq.write_table(sentinel, os.path.join(dst, "zz-sentinel.parquet"))
    base = 1_700_000_000
    for i, name in enumerate((EVENTS_PART, "zz-sentinel.parquet")):
        os.utime(os.path.join(dst, name), (base + i, base + i))
    return stream_root

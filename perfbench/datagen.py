"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, size)``: the same seed writes
byte-identical parquet. Schemas follow the repository's test data
(TPC-H-ish star schema, the ``events`` activity stream and the
``documents`` corpus), so the oracle SQL written for that data applies
unchanged.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# funnel: 100k events over 8k users, 90 days (2 MB of parquet)
N_EVENTS, N_USERS = 100_000, 8_000
# curation: 200 originals (+ ~80 planted copies), 40-200 words each
N_BASE = 200


def generate(workload: str, data_dir: str, seed: int):
    """Write ``workload``'s input tables into ``data_dir``. Returns what
    the generator reports: curation's planted duplicates; None for the
    others."""
    if workload == "dashboard":
        write_star_schema(data_dir, seed)
    elif workload == "funnel":
        write_events(f"{data_dir}/events.parquet", seed, N_EVENTS, N_USERS)
    elif workload == "curation":
        return write_corpus(f"{data_dir}/documents.parquet", seed, N_BASE)
    else:
        raise SystemExit(f"unknown workload {workload!r}")
    return None


# --------------------------------------------------------------------------
# TPC-H-ish star schema (dashboard)
# --------------------------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ORDER_DAY0 = np.datetime64("1996-01-01", "D")
ORDER_DAYS = 6 * 365


def _write(table: pa.Table, path: str, row_group_size: int | None = None) -> int:
    pq.write_table(table, path, row_group_size=row_group_size)
    return os.path.getsize(path)


def _strings(values, codes) -> pa.Array:
    """``values[codes]`` as an arrow string column (decoded in C++)."""
    return pa.DictionaryArray.from_arrays(
        pa.array(codes, pa.int32()), pa.array(list(values), pa.string())
    ).cast(pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write_star_schema(out_dir: str, seed: int, sf: float = 0.01) -> dict:
    """region, nation, customer, orders, lineitem at TPC-H scale ``sf``
    (sf 0.01 = 1,500 customers, 15,000 orders, 60,000 line items). About
    1% of orders reference a customer that does not exist, so left and
    inner join-one differ."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    n_line = 4 * n_ord
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _strings(SEGMENTS, rng.integers(0, 5, n_cust)),
        }),
    }
    dangling = rng.random(n_ord) < 0.01
    o_custkey = np.where(dangling, n_cust + rng.integers(0, n_cust, n_ord),
                         rng.integers(0, n_cust, n_ord))
    o_day = ORDER_DAY0 + rng.integers(0, ORDER_DAYS, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": o_custkey.astype(np.int64),
        "o_orderstatus": _strings("FOP", rng.integers(0, 3, n_ord)),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": o_day.astype("datetime64[us]"),
        "o_orderpriority": _strings(PRIORITIES, rng.integers(0, 5, n_ord)),
    })
    # every order gets >= 1 line; the rest spread uniformly (exact total)
    per_order = 1 + rng.multinomial(n_line - n_ord, np.full(n_ord, 1.0 / n_ord))
    l_orderkey = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    l_linenumber = (np.arange(n_line) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": l_orderkey,
        "l_partkey": rng.integers(0, int(200_000 * sf), n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, int(10_000 * sf), n_line).astype(np.int64),
        "l_linenumber": l_linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900, 2000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _strings("ANR", rng.integers(0, 3, n_line)),
        "l_linestatus": _strings("FO", rng.integers(0, 2, n_line)),
        "l_shipdate": (o_day[l_orderkey] + rng.integers(1, 121, n_line)).astype(
            "datetime64[us]"
        ),
    })
    return {
        name: _write(t, os.path.join(out_dir, f"{name}.parquet"))
        for name, t in tables.items()
    }


# --------------------------------------------------------------------------
# Activity stream (funnel)
# --------------------------------------------------------------------------

EVENT_TYPES = ["signup", "view", "click", "purchase", "error"]
EVENT_P = [0.12, 0.40, 0.25, 0.13, 0.10]
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 90 * 86_400 * 1_000_000
PROPS = [f'{{"k": {i}}}' for i in range(100)]


def write_events(path: str, seed: int, n_events: int, n_users: int) -> int:
    """The ``events`` table: ``n_events`` rows over ``n_users`` users and 90
    days. Events per user are heavy-tailed (Pareto weights, capped at 200x
    the median so one seed cannot put a tenth of the stream on one user).
    Written in 128k-row row groups, as a streaming writer would."""
    rng = np.random.default_rng([seed, 2])
    w = rng.pareto(1.3, n_users) + 1.0
    w = np.minimum(w, 200 * np.median(w))
    per_user = 1 + rng.multinomial(n_events - n_users, w / w.sum())
    user_id = np.repeat(np.arange(n_users, dtype=np.int64), per_user)
    ts = EVENT_T0 + rng.integers(0, EVENT_SPAN_US, n_events).astype("timedelta64[us]")
    order = np.argsort(ts, kind="stable")
    kind = rng.choice(len(EVENT_TYPES), n_events, p=EVENT_P)
    table = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts[order],
        "user_id": user_id[order],
        "event_type": _strings(EVENT_TYPES, kind),
        "value": np.round(rng.uniform(0, 100, n_events), 2),
        "props": _strings(PROPS, rng.integers(0, 100, n_events)),
    })
    return _write(table, path, row_group_size=131_072)


# --------------------------------------------------------------------------
# Text corpus with planted duplicates (curation)
# --------------------------------------------------------------------------

# the same short lists the program's language ID scores, written out here
# so generated inputs do not change when the program's lists do
STOP = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "fr": ["le", "la", "de", "et", "un", "en", "du", "pour", "que", "dans"],
    "de": ["der", "die", "das", "und", "zu", "in", "den", "von", "mit", "ist"],
}
SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "ta", "si", "po", "ve", "du",
             "ar", "en", "il", "or", "um", "bra", "cle", "dro", "fin", "gal"]


def _vocab(rng, n: int) -> np.ndarray:
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(rng.choice(SYLLABLES, k)))
    return np.array(sorted(words))


def _document(rng, vocab, lang: str, n_words: int, junk: bool) -> str:
    stop = np.array(STOP[lang])
    is_stop = rng.random(n_words) < 0.3
    words = np.where(is_stop, rng.choice(stop, n_words), rng.choice(vocab, n_words))
    if junk:  # low-quality: digit/symbol runs drag alpha ratio and stopwords down
        words = np.where(rng.random(n_words) < 0.6,
                         np.char.add("#", rng.integers(0, 10**6, n_words).astype(str)),
                         words)
    lines = np.array_split(words, max(1, n_words // 25))
    return "\n".join(" ".join(line) for line in lines)


def _near_copy(rng, vocab, text: str, edit_share: float) -> str:
    lines = text.split("\n")
    out = []
    for line in lines:
        w = np.array(line.split(" "))
        hit = rng.random(len(w)) < edit_share
        w[hit] = rng.choice(vocab, int(hit.sum()))
        out.append(" ".join(w))
    return "\n".join(out)


def write_corpus(path: str, seed: int, n_base: int) -> dict:
    """The ``documents`` table: ``n_base`` original documents plus planted
    duplicates. One base document in ten gets 1-3 exact copies (same words,
    different case and punctuation, so only the normalized hash matches)
    and one in ten gets 1-3 near copies (2% of words replaced). Written as
    one file with one row group, like the repository's test corpus.

    Returns ground truth: ``exact_groups`` and ``near_groups`` (lists of
    doc-id lists, original first) and the doc count."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, 3000)
    langs = rng.choice(["en", "en", "en", "en", "en", "de", "es", "fr"], n_base)
    texts = [
        _document(rng, vocab, lang, int(rng.integers(40, 200)), rng.random() < 0.1)
        for lang in langs
    ]
    doc_lang = list(langs)
    exact_groups, near_groups = [], []
    plant = rng.permutation(n_base)
    for i in plant[: n_base // 10]:
        group = [int(i)]
        for _ in range(int(rng.integers(1, 4))):
            group.append(len(texts))
            texts.append(texts[i].upper().replace(" ", " , ", 1) + " !")
            doc_lang.append(doc_lang[i])
        exact_groups.append(group)
    for i in plant[n_base // 10: n_base // 5]:
        group = [int(i)]
        for _ in range(int(rng.integers(1, 4))):
            group.append(len(texts))
            texts.append(_near_copy(rng, vocab, texts[i], 0.02))
            doc_lang.append(doc_lang[i])
        near_groups.append(group)
    n = len(texts)
    table = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": doc_lang,
        "source": [f"src{int(s)}" for s in rng.integers(0, 18, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    size = _write(table, path, row_group_size=n)
    return {"exact_groups": exact_groups, "near_groups": near_groups,
            "n_docs": n, "bytes": size}


def day(days_from_order_start: int) -> datetime:
    """The order-date calendar as a datetime, for shape parameters."""
    return (ORDER_DAY0 + days_from_order_start).astype(datetime)

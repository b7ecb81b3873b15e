"""Seeded input generator for the benchmark workloads.

Everything here is pure Python/NumPy and independent of the engine: the
engine only ever sees what these functions produce (parquet files and
Thrift Record files written by ``materialize_*`` in ``workloads.py``).
The same seed always yields byte-identical inputs.

- ``doc_texts``: fixture-style document texts (lower-case vocabulary
  words, ~5% planted near-duplicates ending in " dup").
- ``corpus``: annotation corpus built from those texts as sentences,
  plus a seeded share of long documents that concatenate 5-20 texts
  (parse and SRL cost grows with sentence count).
- ``star_tables``: the star schema + events/documents/embeddings tables
  the declared queries read, with the fixture's column types.
- ``IncrementalPlan``: the seeded record store and the update batches
  with fixed hit shares, stale stored views and a forced batch.
- ``thrift_corpus``: reference-format Record blobs (TBinaryProtocol),
  encoded by an encoder of this module, not the engine's.
- ``query_order``: the per-pass permutation of the query mix.
"""

from __future__ import annotations

import hashlib
import random
import re
import struct

VOCAB = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line data table agg value key stream window spark part "
    "group big sort query fast"
).split()
# verbs give the POS/CHUNK/SRL annotators predicates to find
VERBS = ("is", "was", "merged", "running", "quickly", "has", "loaded")


def identifier(raw_text: str, whitespaced: bool = False) -> str:
    """Reference record identifier: sha1("FLAG:<ws>:" + text)."""
    flag = "true" if whitespaced else "false"
    return hashlib.sha1(f"FLAG:{flag}:{raw_text}".encode()).hexdigest()


def doc_texts(rng: random.Random, n: int) -> list[str]:
    """``n`` fixture-style texts of 8-90 words; ~5% are an earlier text
    plus a trailing " dup" (the near-duplicates the dedup queries find)."""
    out: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            out.append(out[rng.randrange(i)] + " dup")
        else:
            out.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 90))))
    return out


def _sentence(rng: random.Random, text: str) -> str:
    words = text.split()
    words.insert(rng.randrange(1, len(words)), rng.choice(VERBS))
    words[0] = words[0].capitalize()
    return " ".join(words) + rng.choice(".....!?")


def corpus(seed: int, n_docs: int, long_share: float = 0.1, salt: str = "corpus") -> list[dict]:
    """``n_docs`` distinct Record rows (identifier, raw_text, whitespaced)."""
    rng = random.Random(f"{salt}:{seed}")
    base = doc_texts(rng, n_docs)
    rows, seen = [], set()
    for text in base:
        if rng.random() < long_share:
            k = rng.randint(5, 20)
            raw = " ".join(_sentence(rng, rng.choice(base)) for _ in range(k))
        else:
            raw = _sentence(rng, text)
        rid = identifier(raw)
        if rid in seen:
            continue
        seen.add(rid)
        rows.append({"identifier": rid, "raw_text": raw, "whitespaced": False})
    return rows


def describe(rows: list[dict]) -> str:
    chars = sum(len(r["raw_text"]) for r in rows)
    return f"{len(rows)} docs, {chars} chars"


# ---------------------------------------------------------------------------
# star schema + events / documents / embeddings
# ---------------------------------------------------------------------------
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]


def star_tables(seed: int, sf: float) -> dict:
    """Fixture-typed tables at scale factor ``sf`` (lineitem ~ 6M x sf
    rows) as ``{name: pyarrow.Table}``."""
    import numpy as np
    import pyarrow as pa

    g = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def money(lo, hi, n):
        return np.round(g.uniform(lo, hi, n), 2)

    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32),
         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    )
    t["nation"] = pa.table(
        {"n_nationkey": pa.array(range(25), i32),
         "n_name": [f"NATION_{i}" for i in range(25)],
         "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}
    )
    t["customer"] = pa.table(
        {"c_custkey": pa.array(np.arange(n_cust), i64),
         "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
         "c_nationkey": pa.array(g.integers(0, 25, n_cust), i32),
         "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
         "c_mktsegment": pa.array(g.choice(_SEGMENTS, n_cust), s)}
    )
    t["supplier"] = pa.table(
        {"s_suppkey": pa.array(np.arange(n_supp), i64),
         "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
         "s_nationkey": pa.array(g.integers(0, 25, n_supp), i32),
         "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64)}
    )
    price = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    t["part"] = pa.table(
        {"p_partkey": pa.array(np.arange(n_part), i64),
         "p_name": [f"{a} {b}" for a, b in zip(g.choice(_ADJ, n_part), g.choice(_NOUN, n_part))],
         "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
         "p_type": pa.array(g.choice(_PTYPES, n_part), s),
         "p_size": pa.array(g.integers(1, 51, n_part), i32),
         "p_retailprice": pa.array(price, f64)}
    )
    day0 = np.datetime64("1995-01-01", "us")
    odate = day0 + g.integers(0, 2404, n_ord).astype("timedelta64[D]")
    t["orders"] = pa.table(
        {"o_orderkey": pa.array(np.arange(n_ord), i64),
         "o_custkey": pa.array(g.integers(0, n_cust, n_ord), i64),
         "o_orderstatus": pa.array(g.choice(["F", "O", "P"], n_ord), s),
         "o_totalprice": pa.array(money(1000.0, 500000.0, n_ord), f64),
         "o_orderdate": pa.array(odate, ts),
         "o_orderpriority": pa.array(g.choice(_PRIO, n_ord), s)}
    )
    lines = g.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    pkey = g.integers(0, n_part, n_li)
    qty = g.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pa.table(
        {"l_orderkey": pa.array(okey, i64),
         "l_partkey": pa.array(pkey, i64),
         "l_suppkey": pa.array(g.integers(0, n_supp, n_li), i64),
         "l_linenumber": pa.array(lnum, i32),
         "l_quantity": pa.array(qty, f64),
         "l_extendedprice": pa.array(np.round(qty * price[pkey] * g.uniform(0.95, 1.05, n_li), 2), f64),
         "l_discount": pa.array(g.integers(0, 11, n_li) / 100.0, f64),
         "l_tax": pa.array(g.integers(0, 9, n_li) / 100.0, f64),
         "l_returnflag": pa.array(g.choice(["A", "N", "R"], n_li), s),
         "l_linestatus": pa.array(g.choice(["F", "O"], n_li), s),
         "l_shipdate": pa.array(odate[okey] + g.integers(1, 122, n_li).astype("timedelta64[D]"), ts)}
    )
    ev_ts = np.sort(
        np.datetime64("2024-01-01", "us") + g.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
    )
    t["events"] = pa.table(
        {"event_id": pa.array(np.arange(n_ev), i64),
         "ts": pa.array(ev_ts, ts),
         "user_id": pa.array(g.integers(0, 150, n_ev), i64),
         "event_type": pa.array(g.choice(_EVENTS, n_ev), s),
         "value": pa.array(np.maximum(0.01, np.round(g.exponential(50.0, n_ev), 2)), f64),
         "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)]}
    )
    texts = doc_texts(random.Random(f"documents:{seed}"), 500)
    t["documents"] = pa.table(
        {"doc_id": pa.array(range(len(texts)), i64),
         "text": texts,
         "lang": pa.array(g.choice(_LANGS, len(texts)), s),
         "source": [f"src{i % 20}" for i in range(len(texts))],
         "n_chars": pa.array([len(x) for x in texts], i64)}
    )
    n_emb = 500
    labels = g.integers(0, 10, n_emb)
    centers = g.normal(0.0, 0.125, (10, 64))
    emb = (centers[labels] + g.normal(0.0, 0.06, (n_emb, 64))).astype(np.float32)
    t["embeddings"] = pa.table(
        {"vec_id": pa.array(np.arange(n_emb), i64),
         "embedding": pa.array(list(emb), pa.list_(pa.float32())),
         "label": pa.array(labels, i32)}
    )
    return t


def query_order(seed: int, names: list[str], pass_no: int) -> list[str]:
    """The mix for one pass, permuted from (seed, pass)."""
    order = list(names)
    random.Random(f"order:{seed}:{pass_no}").shuffle(order)
    return order


# ---------------------------------------------------------------------------
# incremental store + update batches
# ---------------------------------------------------------------------------
class IncrementalPlan:
    """The store's seed records and the per-pass update batches.

    Each pass submits, in order: ``miss`` (0% stored), ``half`` (50%
    stored, and the stored half carries ``pos`` views of the older
    ``-0.9`` source, so it exercises the staleness cascade), ``hit``
    (100% stored) and ``force`` (100% stored, ``force=True``). New
    documents come from a per-pass seeded stream, so every pass inserts
    ``1.5 x batch`` fresh records."""

    KINDS = ("miss", "half", "hit", "force")

    def __init__(self, seed: int, store_docs: int, batch: int):
        self.seed = seed
        self.batch = batch
        self.stored = corpus(seed, store_docs, salt="store")
        n = len(self.stored)
        if n < 3 * batch:
            raise ValueError("store must hold at least three batches of documents")
        # disjoint slices of the seeded store: stale / hit / force
        self.stale = self.stored[: batch - batch // 2]
        self.hit = self.stored[batch : 2 * batch]
        self.force = self.stored[n - batch :]

    def stale_ids(self) -> set[str]:
        return {r["identifier"] for r in self.stale}

    def pass_batches(self, pass_no: int) -> list[tuple[str, list[dict]]]:
        fresh = corpus(self.seed, 2 * self.batch, salt=f"fresh{pass_no}")
        half = self.batch // 2
        return [
            ("miss", fresh[: self.batch]),
            ("half", fresh[self.batch : self.batch + half] + self.stale),
            ("hit", self.hit),
            ("force", self.force),
        ]


# ---------------------------------------------------------------------------
# reference-format Thrift corpus (TBinaryProtocol Record structs)
# ---------------------------------------------------------------------------
_TOK_RE = re.compile(r"\S+")
_T_BOOL, _T_DOUBLE, _T_I32, _T_STRING, _T_STRUCT, _T_MAP, _T_LIST = 2, 4, 8, 11, 12, 13, 15
REF_TOKENIZER = "illinoistokenizer-0.4"


def reference_record(row: dict) -> dict:
    """The Record a reference tokenizer run would have stored: whitespace
    ``tokens`` and one ``sentences`` span per terminated sentence, in the
    engine RECORD dict shape that the Thrift reader must reproduce."""
    text = row["raw_text"]

    def span(a, b, label):
        return {"start": a, "ending": b, "label": label, "score": 1.0,
                "source": REF_TOKENIZER, "attributes": None}

    tokens = [span(m.start(), m.end(), m.group(0)) for m in _TOK_RE.finditer(text)]
    sents, start = [], 0
    for m in re.finditer(r"[.!?](?:\s|$)", text):
        sents.append(span(start, m.start() + 1, "S"))
        start = m.end()
    views = {
        name: {"labels": spans, "source": REF_TOKENIZER, "score": 1.0}
        for name, spans in (("sentences", sents), ("tokens", tokens))
    }
    return {"identifier": row["identifier"], "raw_text": text, "whitespaced": False,
            "label_views": views, "cluster_views": None, "parse_views": None, "views": None}


def _w_str(out: list, v: str) -> None:
    b = v.encode("utf-8")
    out.append(struct.pack(">i", len(b)))
    out.append(b)


def _w_field(out: list, ftype: int, fid: int) -> None:
    out.append(struct.pack(">bh", ftype, fid))


def _w_span(out: list, sp: dict) -> None:
    _w_field(out, _T_I32, 1); out.append(struct.pack(">i", sp["start"]))
    _w_field(out, _T_I32, 2); out.append(struct.pack(">i", sp["ending"]))
    _w_field(out, _T_STRING, 3); _w_str(out, sp["label"])
    _w_field(out, _T_DOUBLE, 4); out.append(struct.pack(">d", sp["score"]))
    _w_field(out, _T_STRING, 5); _w_str(out, sp["source"])
    out.append(b"\x00")


def thrift_blob(rec: dict) -> bytes:
    """TBinaryProtocol struct body of a curator Record (fields 1-7)."""
    out: list = []
    _w_field(out, _T_STRING, 1); _w_str(out, rec["identifier"])
    _w_field(out, _T_STRING, 2); _w_str(out, rec["raw_text"])
    views = rec["label_views"]
    _w_field(out, _T_MAP, 3); out.append(struct.pack(">bbi", _T_STRING, _T_STRUCT, len(views)))
    for name, lab in views.items():
        _w_str(out, name)
        _w_field(out, _T_LIST, 1); out.append(struct.pack(">bi", _T_STRUCT, len(lab["labels"])))
        for sp in lab["labels"]:
            _w_span(out, sp)
        _w_field(out, _T_STRING, 2); _w_str(out, lab["source"])
        _w_field(out, _T_DOUBLE, 3); out.append(struct.pack(">d", lab["score"]))
        out.append(b"\x00")
    for fid in (4, 5, 6):  # required cluster/parse/general view maps, empty
        _w_field(out, _T_MAP, fid); out.append(struct.pack(">bbi", _T_STRING, _T_STRUCT, 0))
    _w_field(out, _T_BOOL, 7); out.append(b"\x01" if rec["whitespaced"] else b"\x00")
    out.append(b"\x00")
    return b"".join(out)


def thrift_corpus(seed: int, n_docs: int) -> list[dict]:
    return [reference_record(r) for r in corpus(seed, n_docs, salt="thrift")]


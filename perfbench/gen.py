"""Seeded input generator for the product benchmark.

Every table the three workloads read is drawn from one ``numpy`` generator
seeded by ``--seed``, so the same seed gives byte-identical parquet. The
schemas and value domains match the engine's TPC-H-style test tables
(``region nation customer supplier part orders lineitem events documents
embeddings``), one parquet file per table.

The document corpus is built to keep the curation mix when it is
replicated. A base corpus of ``n_base`` documents carries every verdict
class of the five-stage cascade on purpose (quality failures, exact
copies, near copies, excerpts, documents stitched from earlier ones, and
plain documents). Replica ``r`` is the base with:

* ``doc_id`` shifted by ``r * DOC_ID_SHIFT``. The shift is a multiple of
  the containment stage's excerpt modulus, so the same base documents get
  excerpt twins in every replica;
* a per-replica permutation of the 26 letters applied to every non-stopword
  token. Stopwords, token lengths, digits and symbols are untouched, so the
  quality rules see the same counts, while the vocabularies of different
  replicas are disjoint and no near-duplicate or containment pair crosses a
  replica.

So each reason count of the cascade over the replicated corpus is exactly
``replicas`` times the base count; :func:`base_reason_counts` gives the
base count from the DuckDB oracle, and every workload that reads documents
checks the invariant on every unit.
"""

from __future__ import annotations

import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")
DOC_ID_SHIFT = 37 * 1_000_000
LETTERS = np.array(list(string.ascii_lowercase))
SYMBOLS = ("#", "@", "$", "%", "&", "*", "!", "~")

_EPOCH_DAY_1995 = 9131  # 1995-01-01 as days since 1970-01-01
_US_PER_DAY = 86_400_000_000
_EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _ts_days(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * _US_PER_DAY, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


# --- relational tables -----------------------------------------------------


def write_orders(rng, out_dir: str, n_orders: int, n_cust: int) -> None:
    _write(
        out_dir,
        "orders",
        {
            "o_orderkey": np.arange(n_orders, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_orders, dtype="int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
            "o_orderdate": _ts_days(
                _EPOCH_DAY_1995 + rng.integers(0, 2404, n_orders)
            ),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n_orders,
            ),
        },
    )


def write_warehouse(rng, out_dir: str, n_orders: int) -> None:
    """The TPC-H-style star at ``n_orders`` orders (sf0.01 is 15,000)."""
    n_cust, n_supp, n_part = n_orders // 10, max(n_orders // 150, 10), n_orders // 7
    _write(
        out_dir,
        "region",
        {
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
    )
    _write(
        out_dir,
        "nation",
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        },
    )
    _write(
        out_dir,
        "customer",
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n_cust,
            ),
        },
    )
    _write(
        out_dir,
        "supplier",
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
    )
    adj = ["large", "small", "hot", "cold", "red", "blue", "old", "new"]
    noun = ["ring", "bolt", "plate", "gear", "rod", "widget", "anvil", "gizmo"]
    _write(
        out_dir,
        "part",
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{adj[a]} {noun[b]}"
                for a, b in zip(
                    rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 2),
        },
    )
    write_orders(rng, out_dir, n_orders, n_cust)
    odate = (
        pq.read_table(os.path.join(out_dir, "orders.parquet"), columns=["o_orderdate"])
        .column(0)
        .cast(pa.int64())
        .to_numpy()
        // _US_PER_DAY
    )
    n_lines = 1 + rng.poisson(3.0, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype="int64"), n_lines)
    n = len(okey)
    starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    qty = rng.integers(1, 51, n).astype("float64")
    _write(
        out_dir,
        "lineitem",
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, n_part, n, dtype="int64"),
            "l_suppkey": rng.integers(0, n_supp, n, dtype="int64"),
            "l_linenumber": (np.arange(n) - starts + 1).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": _ts_days(odate[okey] + rng.integers(1, 122, n)),
        },
    )


def write_events(rng, out_dir: str, n_events: int) -> None:
    n_users = max(n_events // 66, 10)
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_events)) + _EVENTS_T0_US
    _write(
        out_dir,
        "events",
        {
            "event_id": np.arange(n_events, dtype="int64"),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_events, dtype="int64"),
            "event_type": rng.choice(
                ["click", "error", "purchase", "signup", "view"], n_events
            ),
            "value": np.round(np.minimum(rng.exponential(50.0, n_events), 560.0), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        },
    )


def write_embeddings(rng, out_dir: str, n_vecs: int, dim: int = 64) -> None:
    centers = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, n_vecs)
    x = centers[labels] + rng.normal(0.0, 1.2, (n_vecs, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    _write(
        out_dir,
        "embeddings",
        {
            "vec_id": np.arange(n_vecs, dtype="int64"),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": labels.astype("int32"),
        },
    )


# --- documents ---------------------------------------------------------------


def _vocab(rng, n: int) -> list[str]:
    out: set[str] = set()
    while len(out) < n:
        w = "".join(rng.choice(LETTERS, int(rng.integers(5, 11))))
        if w not in STOPWORDS:
            out.add(w)
    return sorted(out)


def _plain(rng, vocab: list[str], n_words: int) -> list[str]:
    """Random text with stopwords, never two in a row: every 3-word shingle
    then holds a content word, so replicas share no shingle."""
    words, prev_stop = [], False
    for _ in range(n_words):
        prev_stop = not prev_stop and rng.random() < 0.3
        words.append(
            STOPWORDS[rng.integers(len(STOPWORDS))]
            if prev_stop
            else vocab[rng.integers(len(vocab))]
        )
    if not any(w in STOPWORDS for w in words):
        words[0] = STOPWORDS[rng.integers(len(STOPWORDS))]
    return words


def base_documents(rng, n_base: int) -> list[list[str]]:
    """Token lists of the base corpus, in doc_id order.

    Kinds and their fixed shares: plain 50%, quality failures 20% (too short,
    too-long tokens, no stopword, symbol-heavy), exact copies 8%, near
    copies 8% (one token replaced: Jaccard ~0.9, far above the 0.5
    cut-off), excerpts 6% (about a fifth of a source: containment >= 0.9,
    Jaccard <= ~0.26) and stitched documents 8% (three spans of earlier
    documents: novelty ~0.05, under the 0.2 cut-off). Derived kinds copy
    from earlier plain documents only, so first-fail order is fixed.
    """
    vocab = _vocab(rng, 600)
    shares = {
        "short": 0.05, "longtok": 0.05, "nostop": 0.05, "symbol": 0.05,
        "exact": 0.08, "near": 0.08, "excerpt": 0.06, "stitch": 0.08,
    }
    mix = [k for k, share in shares.items() for _ in range(round(share * n_base))]
    mix += ["plain"] * (n_base - 30 - len(mix))
    kinds = ["plain"] * 30 + [str(k) for k in rng.permutation(mix)]
    docs: list[list[str]] = []
    plain: list[int] = []
    # Each plain document lends spans to at most one excerpt or stitched
    # document: two spans of one source would overlap at a Jaccard near
    # the near-duplicate cut-off, where MinHash can decide either way.
    spare: list[int] = []
    for kind in kinds:
        need = {"excerpt": 1, "stitch": 3}.get(kind, 0)
        if kind == "plain" or len(spare) < need:
            words = _plain(rng, vocab, int(rng.integers(40, 100)))
            plain.append(len(docs))
            spare.append(len(docs))
        elif kind == "short":
            words = _plain(rng, vocab, int(rng.integers(3, 10)))
        elif kind == "longtok":
            words = [
                "".join(vocab[rng.integers(len(vocab))] for _ in range(3))
                for _ in range(int(rng.integers(15, 40)))
            ]
            words[0] = STOPWORDS[0]
        elif kind == "nostop":
            words = [vocab[rng.integers(len(vocab))] for _ in range(int(rng.integers(20, 60)))]
        elif kind == "symbol":
            words = _plain(rng, vocab, int(rng.integers(20, 60)))
            words = [
                w + SYMBOLS[rng.integers(len(SYMBOLS))] * 2 if rng.random() < 0.6 else w
                for w in words
            ]
        elif kind in ("exact", "near"):
            words = list(docs[plain[rng.integers(len(plain))]])
            if kind == "near":
                words[len(words) // 2] = vocab[rng.integers(len(vocab))]
        else:
            srcs = [docs[spare.pop(int(rng.integers(len(spare))))] for _ in range(need)]
            if kind == "excerpt":
                src = srcs[0]
                n = max(12, len(src) // 5)
                lo = int(rng.integers(0, len(src) - n + 1))
                words = src[lo : lo + n] + [STOPWORDS[0]]
            else:
                words = []
                for s in srcs:
                    lo = int(rng.integers(0, len(s) - 15 + 1))
                    words += s[lo : lo + 15]
        docs.append(words)
    return docs


def _replica_perms(rng, tokens: set[str], replicas: int) -> list[dict]:
    """Letter permutations (identity first) whose token images are pairwise
    disjoint across replicas and never a stopword."""
    for _ in range(100):
        perms = [dict(zip(LETTERS, LETTERS))] + [
            dict(zip(LETTERS, rng.permutation(LETTERS))) for _ in range(replicas - 1)
        ]
        images: set[str] = set()
        ok = True
        for p in perms:
            img = {"".join(p.get(c, c) for c in t) for t in tokens}
            if len(img) != len(tokens) or img & images or img & set(STOPWORDS):
                ok = False
                break
            images |= img
        if ok:
            return perms
    raise RuntimeError("no disjoint replica permutation found")


def write_documents(rng, out_dir: str, n_base: int, replicas: int) -> None:
    base = base_documents(rng, n_base)
    langs = rng.choice(["de", "en", "es", "fr", "zh"], n_base, p=[0.14, 0.42, 0.15, 0.15, 0.14])
    sources = [f"src{i}" for i in rng.integers(0, 20, n_base)]
    tokens = {w for d in base for w in d if w not in STOPWORDS}
    perms = _replica_perms(rng, tokens, replicas)
    ids, texts = [], []
    for r, p in enumerate(perms):
        table = str.maketrans(p)
        for i, words in enumerate(base):
            ids.append(r * DOC_ID_SHIFT + i)
            texts.append(
                " ".join(w if w in STOPWORDS else w.translate(table) for w in words)
            )
    _write(
        out_dir,
        "documents",
        {
            "doc_id": np.array(ids, dtype="int64"),
            "text": texts,
            "lang": np.tile(langs, replicas),
            "source": sources * replicas,
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        },
    )


def base_reason_counts(docs_path: str, n_base: int) -> dict[str, int]:
    """Verdict histogram of the first ``n_base`` documents (replica 0), from
    the cascade's DuckDB oracle."""
    import duckdb

    from maap_data_pipelines_spark.plans.llm import ORACLES

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{docs_path}') WHERE doc_id < {n_base}"
        )
        rows = con.execute(
            "SELECT reason, COUNT(*) FROM ("
            + ORACLES["corpus_curation_extended"]
            + ") GROUP BY reason"
        ).fetchall()
    finally:
        con.close()
    return {reason: int(n) for reason, n in rows}

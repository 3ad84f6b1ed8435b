"""Seeded input generators. The seed reaches only these functions; the
engine sees nothing but the files they write. Same seed, same bytes.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: Parquet writer settings pinned so the bytes depend on the data only.
_PQ = dict(compression="snappy", use_dictionary=True, write_statistics=True)


def _write_parquet(df: pd.DataFrame, path: Path, schema: pa.Schema | None = None) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    table = table.replace_schema_metadata(None)
    pq.write_table(table, path, **_PQ)


def _write_csv(df: pd.DataFrame, path: Path) -> None:
    df.to_csv(path, index=False, lineterminator="\n", na_rep="")


def _finish(out: Path, tmp: Path) -> Path:
    """Publish a fully written input directory under its final name."""
    (tmp / "COMPLETE").write_text("ok\n")
    os.replace(tmp, out)
    return out


def cached(root: Path, name: str, build) -> Path:
    """``root/name``, built by ``build(tmp_dir)`` on first use. A
    directory without its COMPLETE marker (an interrupted build) is
    rebuilt. ``name`` must carry every argument of the build (seed and
    sizes), or inputs of an older size are reused."""
    out = root / name
    if (out / "COMPLETE").exists():
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = root / f".{name}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    return _finish(out, tmp)


# ---------------------------------------------------------------------------
# etl_refresh: reference-shaped sales + customers CSVs with dirty rows
# ---------------------------------------------------------------------------

CATEGORIES = ["Electronics", "Books", "Clothing", "Home", "Toys", "Garden",
              "Sports", "Grocery"]
REGIONS = ["North", "South", "East", "West", "Central"]
N_PRODUCTS = 500
#: Products on one order are base + j*STRIDE (mod N_PRODUCTS), j < 5:
#: distinct, so (order_id, product_id) identifies a line.
_PRODUCT_STRIDE = 7919


def etl_inputs(seed: int, out: Path, n_lines: int, n_customers: int) -> None:
    rng = np.random.default_rng([seed, 1])
    # products: fixed name, category and 2-dp price per id
    prod_cat = rng.integers(0, len(CATEGORIES), N_PRODUCTS)
    prod_price = rng.integers(199, 49999, N_PRODUCTS) / 100.0
    prod_names = np.array([f"Product {i:04d}" for i in range(N_PRODUCTS)])

    # orders with 1..5 lines each
    lines_per = rng.integers(1, 6, n_lines)
    cum = np.cumsum(lines_per)
    n_orders = int(np.searchsorted(cum, n_lines)) + 1
    lines_per = lines_per[:n_orders]
    lines_per[-1] -= cum[n_orders - 1] - n_lines
    starts = np.cumsum(lines_per) - lines_per
    order_idx = np.repeat(np.arange(n_orders), lines_per)
    line_no = np.arange(n_lines) - np.repeat(starts, lines_per)
    base_prod = rng.integers(0, N_PRODUCTS, n_orders)
    prod = (base_prod[order_idx] + line_no * _PRODUCT_STRIDE) % N_PRODUCTS
    # 2% of orders reference customers missing from the dim
    cust = rng.integers(0, n_customers, n_orders)
    ghost = rng.random(n_orders) < 0.02
    cust = np.where(ghost, n_customers + rng.integers(0, 1000, n_orders), cust)
    day0 = dt.date(2022, 1, 1).toordinal()
    odate = rng.integers(0, 3 * 365, n_orders) + day0

    sales = pd.DataFrame({
        "order_id": (100000 + order_idx).astype("int64").astype(str),
        "customer_id": np.char.add("C", np.char.zfill(cust[order_idx].astype(str), 6)),
        "product_id": np.char.add("P", np.char.zfill(prod.astype(str), 4)),
        "product_name": prod_names[prod],
        "quantity": rng.integers(1, 11, n_lines).astype(str),
        "unit_price": np.char.mod("%.2f", prod_price[prod]),
        "order_date": [dt.date.fromordinal(int(d)).isoformat() for d in odate[order_idx]],
        "category": np.array(CATEGORIES)[prod_cat[prod]],
    })
    u = rng.random(n_lines)
    # unparseable dates
    bad_dates = np.array(["not-a-date", "31/12/2023", "2023-13-01", "N/A"])
    m = u < 0.005
    sales.loc[m, "order_date"] = bad_dates[rng.integers(0, 4, int(m.sum()))]
    # null critical fields
    m = (u >= 0.005) & (u < 0.015)
    crit = np.array(["order_id", "customer_id", "order_date", "quantity", "unit_price"])
    which = crit[rng.integers(0, len(crit), int(m.sum()))]
    for c in crit:
        sales.loc[sales.index[m][which == c], c] = None
    # missing category
    sales.loc[(u >= 0.015) & (u < 0.045), "category"] = None
    # exact duplicate rows (copied after the nulls: duplicates are
    # whole-row copies, the shape keep-any dedup is defined for)
    dup = sales.iloc[np.flatnonzero(rng.random(n_lines) < 0.02)]
    sales = pd.concat([sales, dup], ignore_index=True)
    sales = sales.iloc[rng.permutation(len(sales))]
    _write_csv(sales, out / "sales.csv")

    cid = np.arange(n_customers)
    reg_day0 = dt.date(2018, 1, 1).toordinal()
    reg = rng.integers(0, 5 * 365, n_customers) + reg_day0
    customers = pd.DataFrame({
        "customer_id": np.char.add("C", np.char.zfill(cid.astype(str), 6)),
        "customer_name": np.char.add("Customer ", cid.astype(str)),
        "email": np.char.add(np.char.add("user", cid.astype(str)), "@example.com"),
        "registration_date": [dt.date.fromordinal(int(d)).isoformat() for d in reg],
        "region": np.array(REGIONS)[rng.integers(0, len(REGIONS), n_customers)],
    })
    v = rng.random(n_customers)
    bad_email = np.char.add(np.char.add("user", cid.astype(str)), np.where(v < 0.5, "@example", " at example.com"))
    m = rng.random(n_customers) < 0.05
    customers.loc[m, "email"] = bad_email[m]
    customers.loc[rng.random(n_customers) < 0.02, "email"] = None
    customers.loc[rng.random(n_customers) < 0.03, "region"] = None
    customers.loc[rng.random(n_customers) < 0.01, "registration_date"] = "unknown"
    customers.loc[rng.random(n_customers) < 0.01, "customer_id"] = None
    _write_csv(customers, out / "customers.csv")


# ---------------------------------------------------------------------------
# corpus_hygiene: Zipf-vocabulary documents, planted near-duplicate
# clusters and planted eval-set contamination
# ---------------------------------------------------------------------------

#: Eval-set draw the engine's decontamination uses by default
#: (operators/decontam.py eval_membership): md5('eval-v1:' || id)
#: below floor(0.02 * 2^32).
EVAL_SEED, EVAL_RATE = "eval-v1", 0.02
#: Token edit rates of the planted near-duplicate copies.
EDIT_RATES = (0.01, 0.03, 0.06)


def is_eval_doc(doc_id: int) -> bool:
    h = hashlib.md5(f"{EVAL_SEED}:{doc_id}".encode()).hexdigest()[:8]
    return h < format(int(EVAL_RATE * 2**32), "08x")


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    syl = ["ka", "lo", "mi", "ter", "vo", "sha", "ni", "pu", "ro", "del",
           "an", "qui", "zo", "bel", "ra", "fen", "tu", "gor", "ie", "ux"]
    words = set()
    while len(words) < size:
        k = int(rng.integers(2, 4))
        words.add("".join(syl[int(i)] for i in rng.integers(0, len(syl), k)))
    return np.array(sorted(words))


def corpus_inputs(seed: int, out: Path, n_docs: int) -> None:
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 4000)
    zipf_p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    zipf_p /= zipf_p.sum()
    n_sources = 8
    src_p = np.array([0.4, 0.2, 0.12, 0.1, 0.08, 0.05, 0.03, 0.02])

    lengths = rng.integers(20, 100, n_docs)
    toks = [list(rng.choice(vocab, size=int(n), p=zipf_p)) for n in lengths]
    source = rng.choice(n_sources, size=n_docs, p=src_p)

    # planted near-duplicates: 6% of docs are edited copies of an
    # earlier doc (a cluster's copies all derive from one original)
    n_copies = int(n_docs * 0.06)
    copy_ids = rng.choice(np.arange(n_docs // 2, n_docs), n_copies, replace=False)
    for cid in copy_ids:
        orig = int(rng.integers(0, n_docs // 2))
        rate = EDIT_RATES[int(rng.integers(0, len(EDIT_RATES)))]
        t = list(toks[orig])
        for i in np.flatnonzero(rng.random(len(t)) < rate):
            t[i] = vocab[int(rng.integers(0, len(vocab)))]
        toks[cid] = t
        source[cid] = source[orig] if rng.random() < 0.5 else rng.integers(0, n_sources)

    # planted contamination: 1% of non-eval docs get a 12-token passage
    # copied from an eval doc spliced in
    eval_ids = [i for i in range(n_docs) if is_eval_doc(i)]
    if eval_ids:
        for tid in rng.choice(n_docs, int(n_docs * 0.01), replace=False):
            if is_eval_doc(int(tid)):
                continue
            src = toks[eval_ids[int(rng.integers(0, len(eval_ids)))]]
            start = int(rng.integers(0, max(1, len(src) - 12)))
            passage = src[start:start + 12]
            at = int(rng.integers(0, len(toks[tid]) + 1))
            toks[tid] = toks[tid][:at] + passage + toks[tid][at:]

    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": [" ".join(t) for t in toks],
        "source": [f"src{int(s)}" for s in source],
        "n_tokens": np.array([len(t) for t in toks], dtype="int64"),
    })
    _write_parquet(docs, out / "docs.parquet")


# ---------------------------------------------------------------------------
# lake_upsert: keyed base table plus micro-batches (70% updates with
# Zipf-skewed key choice, 30% inserts) and per-batch lookup keys
# ---------------------------------------------------------------------------

LAKE_SCHEMA = pa.schema([("k", pa.int64()), ("ver", pa.int64()),
                         ("v", pa.float64()), ("s", pa.string())])


def lake_inputs(seed: int, out: Path, n_base: int, n_batches: int,
                batch_rows: int, lookups_per_batch: int) -> None:
    rng = np.random.default_rng([seed, 3])

    def payload(n, tag):
        return pd.DataFrame({
            "v": np.round(rng.normal(100.0, 30.0, n), 4),
            "s": [f"{tag}-{x:08x}" for x in rng.integers(0, 2**32, n)],
        })

    base = pd.concat([pd.DataFrame({"k": np.arange(n_base, dtype="int64"),
                                    "ver": np.zeros(n_base, dtype="int64")}),
                      payload(n_base, "b")], axis=1)
    _write_parquet(base, out / "base.parquet", LAKE_SCHEMA)

    perm = rng.permutation(n_base)  # Zipf rank -> key
    next_key = n_base
    lookups = []
    for b in range(n_batches):
        n_upd = int(batch_rows * 0.7)
        ranks = np.minimum(rng.zipf(1.2, n_upd * 2) - 1, n_base - 1)
        upd = pd.unique(perm[ranks])[:n_upd]
        ins = np.arange(next_key, next_key + batch_rows - len(upd))
        next_key += len(ins)
        keys = np.concatenate([upd, ins]).astype("int64")
        batch = pd.concat([pd.DataFrame({"k": keys, "ver": np.full(len(keys), b + 1, dtype="int64")}),
                           payload(len(keys), f"u{b}")], axis=1)
        _write_parquet(batch, out / f"batch{b:04d}.parquet", LAKE_SCHEMA)
        # lookups: keys this batch touched, older keys, and absent keys
        pick = np.concatenate([
            rng.choice(keys, lookups_per_batch // 2),
            rng.integers(0, n_base, lookups_per_batch - lookups_per_batch // 2 - 1),
            [next_key + 10_000_000],
        ])
        lookups.append(pick.astype("int64"))
    np.save(out / "lookups.npy", np.stack(lookups))


# ---------------------------------------------------------------------------
# registry_mix: a TPC-H-shaped star schema (+ events, embeddings) with
# the column names, value domains and literals the registered queries
# filter on. Its shape is fixed; the workload seed only orders queries.
# ---------------------------------------------------------------------------

STAR_SEED = 42
_R_NAMES = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _ts(days: np.ndarray, start: str) -> np.ndarray:
    return (np.datetime64(start, "D") + days.astype("timedelta64[D]")).astype("datetime64[us]")


def star_inputs(out: Path, scale: float) -> None:
    rng = np.random.default_rng(STAR_SEED)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_events, n_users, n_vec = int(1_000_000 * scale), int(15_000 * scale), int(20_000 * scale)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": pd.DataFrame({"r_regionkey": np.arange(5, dtype="int32"),
                                "r_name": _R_NAMES}),
        "nation": pd.DataFrame({"n_nationkey": np.arange(25, dtype="int32"),
                                "n_name": [f"NATION_{i}" for i in range(25)],
                                "n_regionkey": (np.arange(25) % 5).astype("int32")}),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]}),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": money(-999.99, 9999.99, n_supp)}),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": np.char.add(np.char.add(np.array(_P_ADJ)[rng.integers(0, 8, n_part)], " "),
                                  np.array(_P_NOUN)[rng.integers(0, 8, n_part)]),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(_P_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 2)}),
    }
    odays = rng.integers(0, 2405, n_ord)
    tables["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(odays, "1995-01-01"),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]})
    lok = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype("float64")
    tables["lineitem"] = pd.DataFrame({
        "l_orderkey": lok.astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(odays[lok] + rng.integers(1, 122, n_line), "1995-01-01")})
    # unique microsecond timestamps over 30 days, in random event order
    us = np.sort(rng.choice(30 * 86_400_000_000, n_events, replace=False))
    tables["events"] = pd.DataFrame({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_events).astype("int64"),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    emb = rng.normal(0.0, 0.1, (n_vec, 64)).astype("float32")
    tables["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n_vec).astype("int32")})
    for name, df in tables.items():
        _write_parquet(df, out / f"{name}.parquet")

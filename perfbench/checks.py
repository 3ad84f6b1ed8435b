"""Independent references for every workload's outputs.

Each check recomputes a result without the engine — DuckDB SQL over the
generated files, or plain Python — and compares it with what the engine
wrote. Lake tables are read back by listing their latest manifest with
the standard library and scanning the named files with DuckDB, so the
engine's own reader is not trusted either. Checks run after the timed
section. Each returns ``[(check_name, ok, detail)]``.
"""

from __future__ import annotations

import json
import math
import re
from collections import defaultdict
from pathlib import Path

import duckdb

import gen

#: Relative tolerance for doubles: sums are exact on both sides, but a
#: DECIMAL -> DOUBLE conversion may round differently by one ulp.
REL_TOL = 1e-12
#: Least share of the exact-Jaccard >= 0.5 pairs whose larger id the
#: dedup (MinHash-LSH, 32 hashes, 8 bands) must remove. Planted copies
#: sit at J ~0.7-0.95 to their original, high on the banding S-curve;
#: measured recall on these corpora is ~0.95.
RECALL_FLOOR = 0.9


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads=2")
    return con


def manifest(table: Path, version: int | None = None) -> dict:
    """A lake table's manifest (the latest by default), read with the
    stdlib from the ``_log/<version>.json`` layout the lake commits."""
    log = Path(table) / "_log"
    path = (log / f"{version:08d}.json" if version is not None
            else sorted(log.glob("[0-9]*.json"))[-1])
    return json.loads(path.read_text())


def table_files(table: Path) -> list[str]:
    """Data files of a lake table's latest version, from its manifest."""
    m = manifest(table)
    if m.get("delete_files"):
        raise ValueError(f"{table}: unexpected deletion vectors")
    return [str(Path(table) / f) for f in m["files"]]


def _scan(table: Path) -> str:
    files = ", ".join(f"'{f}'" for f in table_files(table))
    return f"read_parquet([{files}])"


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=0.0)
    return a == b


def rows_equal(got: list[tuple], want: list[tuple]) -> tuple[bool, str]:
    """Order-insensitive multiset equality with float tolerance."""
    key = lambda r: tuple((x is None, str(x)) for x in r)  # noqa: E731
    got, want = sorted(got, key=key), sorted(want, key=key)
    if len(got) != len(want):
        return False, f"{len(got)} rows, expected {len(want)}"
    for g, w in zip(got, want):
        if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
            return False, f"row {g} != expected {w}"
    return True, f"{len(got)} rows"


# ---------------------------------------------------------------------------
# etl_refresh
# ---------------------------------------------------------------------------

_ETL_SQL = r"""
CREATE TEMP VIEW raw_sales AS
  SELECT * FROM read_csv('{sales}', header=true, all_varchar=true);
CREATE TEMP VIEW raw_customers AS
  SELECT * FROM read_csv('{customers}', header=true, all_varchar=true);
CREATE TEMP VIEW clean_sales AS
  SELECT order_id, customer_id, product_id, product_name, quantity,
         unit_price, order_date, coalesce(category, 'Unknown') AS category,
         CAST(quantity * unit_price AS DECIMAL(18,2)) AS total_price,
         strftime(order_date, '%Y-%m') AS month
  FROM (
    SELECT TRY_CAST(order_id AS BIGINT) AS order_id, customer_id,
           product_id, product_name,
           TRY_CAST(quantity AS INTEGER) AS quantity,
           TRY_CAST(unit_price AS DOUBLE) AS unit_price,
           TRY_CAST(order_date AS DATE) AS order_date, category
    FROM raw_sales
  )
  QUALIFY row_number() OVER (
      PARTITION BY order_id, product_id, quantity, unit_price) = 1
      AND order_id IS NOT NULL AND customer_id IS NOT NULL
      AND order_date IS NOT NULL AND quantity IS NOT NULL
      AND unit_price IS NOT NULL;
CREATE TEMP VIEW clean_customers AS
  SELECT customer_id, customer_name, email, registration_date,
         coalesce(region, 'Unknown') AS region,
         coalesce(regexp_full_match(email, '^[\w\.-]+@[\w\.-]+\.\w+$'), false)
             AS is_email_valid,
         datediff('day', registration_date, DATE '{snapshot}') AS customer_days
  FROM (SELECT customer_id, customer_name, email,
               TRY_CAST(registration_date AS DATE) AS registration_date, region
        FROM raw_customers)
  WHERE customer_id IS NOT NULL;
"""

_ETL_MARTS = {
    "sales_summary": """
        SELECT category, month, CAST(SUM(total_price) AS DOUBLE) AS total_sales,
               CAST(SUM(quantity) AS DOUBLE) AS total_quantity,
               CAST(SUM(total_price) AS DOUBLE) / COUNT(DISTINCT order_id)
                   AS average_order_value,
               CAST(month || '-01' AS DATE) AS period_date
        FROM clean_sales GROUP BY category, month""",
    "product_ranking": """
        SELECT product_id, product_name, total_sold, total_revenue,
               CAST(row_number() OVER (ORDER BY total_sold DESC,
                    total_revenue DESC, product_id) AS INTEGER) AS rank_position
        FROM (SELECT product_id, product_name,
                     CAST(SUM(quantity) AS DOUBLE) AS total_sold,
                     CAST(SUM(total_price) AS DOUBLE) AS total_revenue
              FROM clean_sales GROUP BY product_id, product_name)
        ORDER BY total_sold DESC, total_revenue DESC, product_id LIMIT 5""",
    "sales": "SELECT * FROM clean_sales",
    "customers": "SELECT * FROM clean_customers",
}

_AVG_CHECK = """
    WITH totals AS (
        SELECT order_id, customer_id, SUM(total_price) AS order_total
        FROM clean_sales GROUP BY order_id, customer_id)
    SELECT coalesce(c.region, 'Unknown') AS region,
           CAST(SUM(order_total) AS DOUBLE) / COUNT(order_id) AS avg_check,
           COUNT(order_id) AS orders_count
    FROM totals t LEFT JOIN (SELECT customer_id, region FROM clean_customers) c
      ON t.customer_id = c.customer_id
    GROUP BY 1"""


def check_etl(inp: Path, out: Path, report_rows: list[dict], snapshot) -> list:
    con = _connect()
    con.execute(_ETL_SQL.format(sales=inp / "sales.csv",
                                customers=inp / "customers.csv",
                                snapshot=snapshot.isoformat()))
    results = []
    for table, sql in _ETL_MARTS.items():
        want_rel = con.sql(sql)
        cols = want_rel.columns
        want = want_rel.fetchall()
        got = con.execute(
            f"SELECT {', '.join(cols)} FROM {_scan(out / table)}"
        ).fetchall()
        ok, detail = rows_equal(got, want)
        results.append((f"etl.{table}", ok, detail))
    want = con.execute(_AVG_CHECK).fetchall()
    got = [(r["region"], r["avg_check"], r["orders_count"]) for r in report_rows]
    ok, detail = rows_equal(got, want)
    results.append(("etl.avg_check_report", ok, detail))
    con.close()
    return results


# ---------------------------------------------------------------------------
# corpus_hygiene
# ---------------------------------------------------------------------------

_WORD = re.compile(r"\w+")


def _grams(text: str, n: int) -> set[tuple]:
    toks = _WORD.findall(text.lower())
    if len(toks) < n:
        return {tuple(toks)} if toks else set()
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def decontam_truth(docs: dict[int, str], n: int = 5) -> set[int]:
    """Ids that survive decontamination: not eval docs, and sharing no
    distinct word n-gram with any eval doc."""
    eval_ids = {d for d in docs if gen.is_eval_doc(d)}
    eval_grams = set().union(*(_grams(docs[d], n) for d in eval_ids)) if eval_ids else set()
    return {d for d, t in docs.items()
            if d not in eval_ids and not (_grams(t, n) & eval_grams)}


def jaccard_pairs(docs: dict[int, str], threshold: float = 0.5, n: int = 3) -> set[tuple]:
    """Exact Jaccard >= threshold pairs over distinct word n-gram sets.

    Inverted shingle index with prefix filtering: with shingles ordered
    rarest first, two sets reaching the threshold must share a shingle
    among the first ``|s| - ceil(threshold * |s|) + 1`` of each, so only
    those are indexed. Every candidate is then verified exactly, so the
    result is the exact pair set (no sampling, no hashing)."""
    sets = {d: _grams(t, n) for d, t in docs.items()}
    freq: dict[tuple, int] = defaultdict(int)
    for s in sets.values():
        for g in s:
            freq[g] += 1
    index: dict[tuple, list[int]] = defaultdict(list)
    for d, s in sets.items():
        ordered = sorted(s, key=lambda g: (freq[g], g))
        for g in ordered[: len(s) - math.ceil(threshold * len(s)) + 1]:
            index[g].append(d)
    candidates = set()
    for ids in index.values():
        ids.sort()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                candidates.add((a, b))
    out = set()
    for a, b in candidates:
        common = len(sets[a] & sets[b])
        if common / (len(sets[a]) + len(sets[b]) - common) >= threshold:
            out.add((a, b))
    return out


def check_corpus(docs_path: Path, got_clean: set, removed: set, mix_dir: Path,
                 cap: int, budgets: dict, default_budget: int) -> tuple[list, float]:
    """``got_clean``: ids the engine's decontamination kept; ``removed``:
    ids its dedup resolution marked non-canonical; ``mix_dir``: the
    written mix. Returns the results and dup_recall."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(docs_path, columns=["doc_id", "text"])
    docs = dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
    results = []

    want_clean = decontam_truth(docs)
    results.append(("corpus.decontam", got_clean == want_clean,
                    f"{len(got_clean)} kept, expected {len(want_clean)}"))

    truth = jaccard_pairs({d: docs[d] for d in want_clean})
    caught = sum(1 for a, b in truth if max(a, b) in removed)
    recall = caught / len(truth) if truth else 1.0
    results.append(("corpus.dup_recall", recall >= RECALL_FLOOR,
                    f"{caught}/{len(truth)} true pairs caught"))

    # the sampling stages, recomputed from the docs dedup kept
    con = _connect()
    kept = sorted(want_clean - removed)
    con.register("kept_ids", pa.table({"doc_id": pa.array(kept, pa.int64())}))
    branches = "".join(f" WHEN source = '{s}' THEN {b}" for s, b in budgets.items())
    want = con.execute(f"""
        WITH docs AS (
            SELECT d.doc_id, d.source, d.n_tokens
            FROM read_parquet('{docs_path}') d JOIN kept_ids USING (doc_id)),
        capped AS (
            SELECT * FROM docs QUALIFY row_number() OVER (
                PARTITION BY source
                ORDER BY substr(md5('cap-v1:' || CAST(doc_id AS VARCHAR)), 1, 8),
                         doc_id) <= {cap}),
        mixed AS (
            SELECT *, SUM(n_tokens) OVER (
                PARTITION BY source
                ORDER BY substr(md5('budget-v1:' || CAST(doc_id AS VARCHAR)), 1, 8),
                         doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
            FROM capped WHERE n_tokens > 0)
        SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT)
        FROM mixed
        WHERE cum_tokens <= CASE{branches} ELSE {default_budget} END
    """).fetchall()
    got = con.execute(
        f"SELECT doc_id, source, n_tokens, cum_tokens FROM read_parquet('{mix_dir}/*.parquet')"
    ).fetchall()
    ok, detail = rows_equal(got, want)
    results.append(("corpus.cap_mix", ok, detail))
    con.close()
    return results, recall


# ---------------------------------------------------------------------------
# lake_upsert
# ---------------------------------------------------------------------------


def check_lake(inp: Path, n_batches: int, table: Path, lookups: list) -> list:
    con = _connect()
    batches = ", ".join(f"'{inp}/batch{b:04d}.parquet'" for b in range(n_batches))
    # The lake passes values through unchanged, so the comparison is
    # exact multiset equality, done in DuckDB (EXCEPT ALL both ways).
    n_got, n_want, extra, missing = con.execute(f"""
        WITH want AS (
            SELECT k, ver, v, s FROM (
                SELECT * FROM read_parquet('{inp}/base.parquet')
                UNION ALL SELECT * FROM read_parquet([{batches}]))
            QUALIFY row_number() OVER (PARTITION BY k ORDER BY ver DESC) = 1),
        got AS (SELECT k, ver, v, s FROM {_scan(table)}),
        extra AS (SELECT * FROM got EXCEPT ALL SELECT * FROM want),
        missing AS (SELECT * FROM want EXCEPT ALL SELECT * FROM got)
        SELECT (SELECT count(*) FROM got), (SELECT count(*) FROM want),
               (SELECT min(extra) FROM extra), (SELECT min(missing) FROM missing)
    """).fetchone()
    con.close()
    ok = n_got == n_want and extra is None and missing is None
    detail = (f"{n_got} rows" if ok else
              f"{n_got} rows, expected {n_want}; unexpected {extra}; missing {missing}")
    results = [("lake.final_table", ok, detail)]

    # replay the batches for the looked-up keys and compare every lookup
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    keys = sorted({key for _, key, _ in lookups})

    def rows_for(path):
        t = pq.read_table(path)
        return t.filter(pc.is_in(t["k"], value_set=pa.array(keys, t.schema.field("k").type)))

    state = {r["k"]: (r["k"], r["ver"], r["v"], r["s"])
             for r in rows_for(inp / "base.parquet").to_pylist()}
    by_batch = defaultdict(list)
    for b, key, rows in lookups:
        by_batch[b].append((key, rows))
    bad = []
    for b in range(n_batches):
        for r in rows_for(inp / f"batch{b:04d}.parquet").to_pylist():
            state[r["k"]] = (r["k"], r["ver"], r["v"], r["s"])
        for key, rows in by_batch[b]:
            want_rows = [state[key]] if key in state else []
            if rows != want_rows:
                bad.append((b, key))
    results.append(("lake.lookups", not bad,
                    f"{len(lookups) - len(bad)}/{len(lookups)} lookups matched"
                    + (f"; first miss {bad[0]}" if bad else "")))
    return results


# ---------------------------------------------------------------------------
# registry_mix
# ---------------------------------------------------------------------------


def check_registry(star: Path, digests: dict) -> list:
    """Each query's engine-side digest (row count plus two order-free
    md5 sums, tools/engine_digest.py) against its DuckDB oracle's."""
    from sales_etl_spark.plans import QUERY_REGISTRY
    from tools.engine_digest import duck_digest

    con = _connect()
    for f in sorted(Path(star).glob("*.parquet")):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
    results = []
    for q, got in sorted(digests.items()):
        want = duck_digest(con, QUERY_REGISTRY[q].oracle)
        ok = got is not None and got == want
        results.append((f"registry.{q}", ok, f"{got[0] if got else '?'} rows"
                        + ("" if ok else f"; engine {got} oracle {want}")))
    con.close()
    return results

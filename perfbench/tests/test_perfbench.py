"""The benchmark's own tests: reproducible inputs, the percentile rule,
span self-time arithmetic, and that every correctness check rejects a
deliberately corrupted output. No Spark session is started; engine
outputs are stood in for by files the references themselves produce.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import uuid
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
import gen
import spans


def _tree_bytes(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes()
            for p in sorted(root.rglob("*")) if p.is_file()}


# -- inputs -----------------------------------------------------------------

_GENERATORS = {
    "etl": lambda seed, d: gen.etl_inputs(seed, d, 3_000, 400),
    "corpus": lambda seed, d: gen.corpus_inputs(seed, d, 600),
    "lake": lambda seed, d: gen.lake_inputs(seed, d, 2_000, 3, 200, 6),
}


@pytest.mark.parametrize("kind", sorted(_GENERATORS))
def test_same_seed_gives_identical_bytes(tmp_path, kind):
    trees = []
    for run, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = tmp_path / run
        d.mkdir()
        _GENERATORS[kind](seed, d)
        trees.append(_tree_bytes(d))
    assert trees[0] == trees[1]
    assert trees[0] != trees[2]


def test_cached_inputs_rebuild_when_incomplete(tmp_path):
    calls = []

    def build(d):
        calls.append(d)
        (d / "x").write_text("1")

    out = gen.cached(tmp_path, "w", build)
    assert gen.cached(tmp_path, "w", build) == out and len(calls) == 1
    (out / "COMPLETE").unlink()
    gen.cached(tmp_path, "w", build)
    assert len(calls) == 2


# -- percentile rule ---------------------------------------------------------


def test_percentile_needs_ten_samples_beyond():
    assert spans.percentile(list(range(100)), 0.9) == 89
    with pytest.raises(spans.NotEnoughSamples):
        spans.percentile(list(range(99)), 0.9)
    assert spans.percentile(list(range(20)), 0.5) == 9
    with pytest.raises(spans.NotEnoughSamples):
        spans.percentile(list(range(19)), 0.5)


def test_median():
    assert spans.median([3.0, 1.0, 2.0]) == 2.0
    assert spans.median([4.0, 1.0, 2.0, 3.0]) == 2.5


# -- self time ---------------------------------------------------------------


def test_self_time_subtracts_union_of_children():
    S = spans.Span
    rec = [
        S("pass", 0.0, 10.0, None, 0),
        S("a", 1.0, 3.0, 0, 0),
        S("b", 2.0, 5.0, 0, 0),   # overlaps a: [1, 5] counted once
        S("c", 7.0, 8.0, 0, 0),
        S("d", 7.2, 7.5, 3, 0),   # grandchild: not subtracted from pass
        S("e", 9.5, 12.0, 0, 0),  # clipped to the parent's end
    ]
    assert spans.self_time(rec, 0) == pytest.approx(10.0 - 4.0 - 1.0 - 0.5)
    assert spans.self_time(rec, 3) == pytest.approx(1.0 - 0.3)
    assert spans.self_time(rec, 1) == pytest.approx(2.0)


def test_tracer_counts_operations_and_failures():
    t = spans.Tracer(enabled=True)
    with t.span("pass"):
        with t.span("ok"):
            pass
        with pytest.raises(RuntimeError):
            with t.span("bad"):
                raise RuntimeError("boom")
    assert (t.attempted, t.failed) == (2, 1)
    assert [s.name for s in t.spans] == ["pass", "ok", "bad"]
    assert t.spans[1].parent == 0


# -- correctness checks reject corrupted outputs ----------------------------


def _write_lake_table(table: Path, arrow: pa.Table) -> None:
    """A one-version lake table (manifest + one data file) in the
    layout the engine's lake module commits."""
    (table / "data").mkdir(parents=True)
    (table / "_log").mkdir()
    name = f"data/{uuid.uuid4().hex[:12]}-part00000.parquet"
    pq.write_table(arrow, table / name)
    (table / "_log" / "00000000.json").write_text(
        json.dumps({"version": 0, "mode": "overwrite", "files": [name], "n_new_files": 1}))


def _perturb_first_double(arrow: pa.Table) -> pa.Table:
    for i, field in enumerate(arrow.schema):
        if pa.types.is_floating(field.type):
            col = arrow.column(i).to_pylist()
            col[0] = col[0] + 0.01
            return arrow.set_column(i, field, pa.array(col, field.type))
    raise AssertionError("no double column")


@pytest.fixture(scope="module")
def etl_case(tmp_path_factory):
    root = tmp_path_factory.mktemp("etl")
    inp = root / "in"
    inp.mkdir()
    gen.etl_inputs(3, inp, 3_000, 400)
    snapshot = dt.date(2025, 1, 1)
    con = duckdb.connect()
    con.execute(checks._ETL_SQL.format(sales=inp / "sales.csv",
                                       customers=inp / "customers.csv",
                                       snapshot=snapshot.isoformat()))
    marts = {t: con.sql(sql).arrow() for t, sql in checks._ETL_MARTS.items()}
    report = [dict(zip(("region", "avg_check", "orders_count"), r))
              for r in con.execute(checks._AVG_CHECK).fetchall()]
    return inp, marts, report, snapshot


def _etl_out(root: Path, marts: dict) -> Path:
    for t, arrow in marts.items():
        _write_lake_table(root / t, arrow)
    return root


def test_etl_check_accepts_reference_and_rejects_perturbed_mart(tmp_path, etl_case):
    inp, marts, report, snapshot = etl_case
    good = checks.check_etl(inp, _etl_out(tmp_path / "good", marts), report, snapshot)
    assert all(ok for _, ok, _ in good), good

    bad_marts = dict(marts, sales_summary=_perturb_first_double(marts["sales_summary"]))
    bad = dict((n, ok) for n, ok, _ in
               checks.check_etl(inp, _etl_out(tmp_path / "bad", bad_marts), report, snapshot))
    assert not bad["etl.sales_summary"] and bad["etl.product_ranking"]

    short = dict(marts, sales=marts["sales"].slice(1))
    res = dict((n, ok) for n, ok, _ in
               checks.check_etl(inp, _etl_out(tmp_path / "short", short), report, snapshot))
    assert not res["etl.sales"]

    wrong_report = [dict(report[0], orders_count=report[0]["orders_count"] + 1)] + report[1:]
    res = dict((n, ok) for n, ok, _ in checks.check_etl(
        inp, _etl_out(tmp_path / "rep", marts), wrong_report, snapshot))
    assert not res["etl.avg_check_report"]


def test_lake_check_rejects_dropped_row_and_wrong_lookup(tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    gen.lake_inputs(5, inp, 2_000, 3, 200, 6)
    batches = ", ".join(f"'{inp}/batch{b:04d}.parquet'" for b in range(3))
    con = duckdb.connect()
    final = con.sql(f"""
        SELECT * FROM (SELECT * FROM read_parquet('{inp}/base.parquet')
                       UNION ALL SELECT * FROM read_parquet([{batches}]))
        QUALIFY row_number() OVER (PARTITION BY k ORDER BY ver DESC) = 1""").arrow()
    state = {r["k"]: (r["k"], r["ver"], r["v"], r["s"])
             for r in pq.read_table(inp / "base.parquet").to_pylist()}
    lookups = []
    for b in range(3):
        for r in pq.read_table(inp / f"batch{b:04d}.parquet").to_pylist():
            state[r["k"]] = (r["k"], r["ver"], r["v"], r["s"])
        for key in (0, 1, 10_000_000):
            lookups.append((b, key, [state[key]] if key in state else []))

    _write_lake_table(tmp_path / "good", final)
    assert all(ok for _, ok, _ in checks.check_lake(inp, 3, tmp_path / "good", lookups))

    _write_lake_table(tmp_path / "dropped", final.slice(1))
    res = dict((n, ok) for n, ok, _ in checks.check_lake(inp, 3, tmp_path / "dropped", lookups))
    assert not res["lake.final_table"] and res["lake.lookups"]

    stale = list(lookups)
    stale[-2] = (stale[-2][0], stale[-2][1], [])
    res = dict((n, ok) for n, ok, _ in checks.check_lake(inp, 3, tmp_path / "good", stale))
    assert not res["lake.lookups"]


def test_corpus_check_rejects_wrong_decontam_and_mix(tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    gen.corpus_inputs(9, inp, 600)
    docs_path = inp / "docs.parquet"
    t = pq.read_table(docs_path)
    docs = dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
    clean = checks.decontam_truth(docs)
    truth = checks.jaccard_pairs({d: docs[d] for d in clean})
    assert truth, "planted near-duplicates must produce true pairs"
    removed = {max(a, b) for a, b in truth}
    budgets, cap, default = {"src0": 5_000}, 60, 2_000

    # the reference mix over the surviving docs, written as the engine would
    con = duckdb.connect()
    kept = ",".join(str(d) for d in sorted(clean - removed))
    src = con.sql(f"SELECT doc_id, source, n_tokens FROM read_parquet('{docs_path}') "
                  f"WHERE doc_id IN ({kept})")
    rows = []
    for s in sorted({r[1] for r in src.fetchall()}):
        ranked = con.execute(f"""
            SELECT doc_id, source, n_tokens FROM read_parquet('{docs_path}')
            WHERE source = '{s}' AND doc_id IN ({kept})
            ORDER BY substr(md5('cap-v1:' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id
            LIMIT {cap}""").fetchall()
        ranked.sort(key=lambda r: (gen.hashlib.md5(f"budget-v1:{r[0]}".encode()).hexdigest()[:8], r[0]))
        budget, cum = budgets.get(s, default), 0
        for doc_id, source, n in ranked:
            cum += n
            if n > 0 and cum <= budget:
                rows.append((doc_id, source, n, cum))
    mix = tmp_path / "mix"
    mix.mkdir()
    arrow = pa.table({k: [r[i] for r in rows] for i, k in
                      enumerate(["doc_id", "source", "n_tokens", "cum_tokens"])})
    pq.write_table(arrow, mix / "part-0.parquet")

    res, recall = checks.check_corpus(docs_path, clean, removed, mix, cap, budgets, default)
    assert all(ok for _, ok, _ in res), res
    assert recall == 1.0

    res, _ = checks.check_corpus(docs_path, clean - {min(clean)}, removed, mix, cap, budgets, default)
    assert not dict((n, ok) for n, ok, _ in res)["corpus.decontam"]

    res, recall = checks.check_corpus(docs_path, clean, set(), mix, cap, budgets, default)
    assert recall == 0.0 and not dict((n, ok) for n, ok, _ in res)["corpus.dup_recall"]

    pq.write_table(arrow.slice(1), mix / "part-0.parquet")
    res, _ = checks.check_corpus(docs_path, clean, removed, mix, cap, budgets, default)
    assert not dict((n, ok) for n, ok, _ in res)["corpus.cap_mix"]


def test_jaccard_pairs_matches_brute_force():
    docs = {0: "a b c d e f g h", 1: "a b c d e f g x", 2: "q r s t u v w",
            3: "a b c d e f y z", 4: "a b"}
    got = checks.jaccard_pairs(docs)
    sets = {d: checks._grams(t, 3) for d, t in docs.items()}
    want = {(a, b) for a in docs for b in docs if a < b
            and len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= 0.5}
    assert got == want and (0, 1) in got


def test_registry_check_rejects_wrong_digest(tmp_path):
    from sales_etl_spark.plans import QUERY_REGISTRY
    from tools.engine_digest import duck_digest

    star = tmp_path / "star"
    star.mkdir()
    gen.star_inputs(star, 0.001)
    con = duckdb.connect()
    for f in sorted(star.glob("*.parquet")):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
    qs = ["flagship_pricing_summary", "window_running_sum"]
    digests = {q: duck_digest(con, QUERY_REGISTRY[q].oracle) for q in qs}
    assert all(ok for _, ok, _ in checks.check_registry(star, digests))
    n, h1, h2 = digests["window_running_sum"]
    digests["window_running_sum"] = (n, str(int(h1) + 1), h2)
    res = dict((n, ok) for n, ok, _ in checks.check_registry(star, digests))
    assert res["registry.flagship_pricing_summary"] and not res["registry.window_running_sum"]


def test_benchmark_json_names_only_reported_metrics():
    import metrics

    spec = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
    layer_units = dict(metrics.per_layer_names())
    for m in spec["per_layer"]:
        assert layer_units.get(m["name"]) == m["unit"], m
    assert {m["name"] for m in spec["end_to_end"]} == {"setup_s", "job_s", "cpu_s"}
    import workloads

    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


def test_paired_workload_runs_both_parts_and_merges_results(tmp_path):
    import workloads

    calls = []

    class Part(workloads.Workload):
        def run_pass(self, spark, tracer, pass_id):
            calls.append((self.name, pass_id))
            self.sample(f"{self.name}_s", 1.0)

        def check(self):
            return [(f"{self.name}.ok", True, "")]

        def report(self):
            return {f"{self.name}_ratio": 0.5}

    class A(Part):
        name = "a"

    class B(Part):
        name = "b"

    class AB(workloads.Paired):
        name = "ab"
        parts = (A, B)

    wl = AB(tmp_path, 1)
    wl.run_pass(None, None, 0)
    assert calls == [("a", 0), ("b", 0)]
    assert wl.samples == {"a_s": [1.0], "b_s": [1.0]}
    assert [n for n, _, _ in wl.check()] == ["a.ok", "b.ok"]
    assert wl.report() == {"a_ratio": 0.5, "b_ratio": 0.5}
    assert wl.member("b").name == "b" and wl.member("c") is None

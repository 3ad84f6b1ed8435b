"""Cross-SF scaling curves for the bench-dominant queries.

Times each target query at sf0.01, sf0.1 and a synthesized sf0.2
(sf0.1 doubled with shifted keys — see ``build_sf02``) in ONE process,
then prints per-query seconds and the step ratios. What the ratios prove:

- a ratio near the DATA ratio (10x for 0.01→0.1, 2x for 0.1→0.2)
  means the query is data-bound — the plan scales linearly;
- a ratio well UNDER the data ratio means the time is dominated by
  the multi-stage scheduling floor, i.e. the residual vs a
  single-process comparator is a fixed cost that VANISHES at scale,
  not a slope that grows with it (the agg_avg_check_by_region
  question from the round-4 verdict);
- a ratio well OVER the data ratio is a scale bug (superlinear
  blowup) — the thing the dedup/graph guards exist to prevent.

The sf0.2 twin doubles every scaling table with key-shifted copies
(join consistency preserved); document text is token-REVERSED in the
copy and embedding vectors sign-flipped so the dedup/similarity tiers
don't degenerate into everything-pairs-with-its-clone. Fixed dims
(region, nation) are copied as-is, like TPC-H scaling does.

Usage:
    python tools/scaling_curve.py [query ...]   # default: curve set
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF001 = "/root/testdata/sf0.01"
SF01 = "/root/testdata/sf0.1"
SF02 = "/tmp/spark_graft_sf0.2synth"

#: Data-volume ratio of each step in the curve.
STEPS = [(SF001, SF01, 10.0), (SF01, SF02, 2.0)]

#: (table, [key columns to shift in the copy]) — None = fixed dim,
#: copied once, NOT doubled.
TABLES: dict[str, list[str] | None] = {
    "region": None,
    "nation": None,
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    # event_id must shift too: it is the event PRIMARY KEY (click_id /
    # purchase_id in the attribution family). Leaving it unshifted
    # duplicated every event id across the 10 copies with identical
    # timestamps, making pick-one-per-purchase_id genuinely ambiguous
    # — Spark and DuckDB legitimately picked different user_id copies
    # (caught by the r10 sf1.0 full-registry sweep, SCALE.md §30.10).
    # A real 10x event stream has 10x distinct event ids.
    "events": ["user_id", "event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

KEY_OFFSET = 100_000_000

SF10 = "/tmp/spark_graft_sf1.0synth"

#: ROW-IDENTITY CONTRACT of each scaling table — the column set that
#: identifies one logical row (TPC-H PKs; event_id for the event
#: stream; doc_id/vec_id for the corpus tables). The synthetic twins
#: MUST keep these disjoint across copies: an unshifted identity key
#: duplicates "primary keys" across copies with otherwise-identical
#: attributes, making every pick-one-per-key query legitimately
#: ambiguous across engines — the event_id bug the r10 sf1.0 sweep
#: caught (SCALE.md §30.10). tests/test_tools.py enforces, for every
#: table here: (a) a new scaling table must declare its identity key
#: (TABLES and PRIMARY_KEYS must stay in lockstep), (b) each doubled
#: table shifts at least one identity-key column, and (c) empirically,
#: the distinct-identity count of an n-copy twin is n × the base
#: count (no cross-copy collisions). NOTE lineitem's 4-tuple is not
#: unique even in the driver's base data — the contract is therefore
#: copy-DISJOINTNESS, never absolute uniqueness.
PRIMARY_KEYS: dict[str, list[str]] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def synth_table(spark, src_dir: str, table: str, n_copies: int):
    """The key-shifted ``n_copies``-way union of one scaling table
    (fixed dims — ``TABLES[table] is None`` — return the source
    unchanged): copy k shifts every ``TABLES[table]`` key by
    k·KEY_OFFSET, join-consistently, plus the per-table anti-clone
    transforms below. Exposed as the unit the twin-contract property
    test (tests/test_tools.py) exercises directly — the builders
    below are this function plus parquet writes.

    The anti-clone tricks keep every tier non-degenerate:

    - documents: every word gets a per-copy suffix merged INTO the
      token (``wxk``, a single \\w+ token) — copies share NO
      shingles/grams with the original or each other, and the
      vocabulary grows ~linearly with corpus size, which is the
      Heaps-law shape real crawl growth has (the sf0.2 token-REVERSE
      trick only yields 2 distinct classes, unusable for 10×; a
      ``w~k`` tag splits under \\w+ tokenization — see the inline
      comment below);
    - embeddings: per-copy CYCLIC DIMENSION SHIFT by k — distinct
      unit-norm vectors whose pairwise cosines across copies are
      decorrelated (sign-flip also only yields 2 classes);
    - customer: per-copy distinct names, digit positions preserved
      for the linkage block key.
    """
    from pyspark.sql import functions as F

    keys = TABLES[table]
    df = spark.read.parquet(f"{src_dir}/{table}.parquet")
    if keys is None:
        return df
    parts = [df]
    for k in range(1, n_copies):
        copy = df
        for key in keys:
            copy = copy.withColumn(
                key, F.col(key) + F.lit(k * KEY_OFFSET)
            )
        if table == "documents":
            # merge the copy tag INTO each word (single \w+
            # token): copies share NO vocabulary with the
            # original or each other, so shingle df / word df
            # distributions stay per-copy — the Heaps-law
            # growth real crawls have. (A first attempt used
            # "w~k", which \w+ tokenization splits into a
            # standalone digit token between every word pair —
            # collapsing every shingle's context to "k w k"
            # and inflating shingle df from 25 to 3 889:
            # a synthetic worst case, not a scale-up.)
            copy = copy.withColumn(
                "text",
                F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda w: F.concat(w, F.lit(f"x{k}")),
                    ),
                    " ",
                ),
            )
        if table == "customer":
            # a 10x customer base has 10x DISTINCT names; keep
            # the digit positions (the linkage block key is
            # substring(c_name, 1, 16)) so per-copy block
            # sizes match sf0.1 instead of stacking 10
            # identical names into every block
            copy = copy.withColumn(
                "c_name",
                F.concat(
                    F.lit(f"Custom{k:02d}#"),
                    F.substring("c_name", 10, 64),
                ),
            )
        if table == "embeddings":
            vec_col = next(
                f.name for f in df.schema.fields
                if f.dataType.simpleString().startswith("array")
            )
            copy = copy.withColumn(
                vec_col,
                F.concat(
                    F.slice(
                        F.col(vec_col),
                        k + 1,
                        F.size(F.col(vec_col)) - k,
                    ),
                    F.slice(F.col(vec_col), 1, k),
                ),
            )
        parts.append(copy)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def build_sf10(spark) -> None:
    """Materialize the synthetic sf1.0 twin: sf0.1 × 10 via NINE
    key-shifted copies (offset k·KEY_OFFSET, join-consistent —
    :func:`synth_table` with n_copies=10); fixed dims (region,
    nation) copied once, as TPC-H scaling does. Idempotent via
    sentinel; ~2 GiB under /tmp."""
    done = Path(SF10) / "_build_complete"
    if done.exists():
        return
    shutil.rmtree(SF10, ignore_errors=True)
    Path(SF10).mkdir(parents=True)
    for table in TABLES:
        out = synth_table(spark, SF01, table, n_copies=10)
        # a handful of files per table: sf1.0 is big enough that one
        # unsplittable row group would serialize every scan
        out.repartition(8).write.mode("overwrite").parquet(
            f"{SF10}/{table}.parquet"
        )
    done.touch()

DEFAULT_QUERIES = [
    # the three pandas-compared marts (the avg_check residual question)
    "agg_sales_summary",
    "agg_avg_check_by_region",
    "topk_product_ranking",
    # the dedup/graph tier (the most expensive bench queries, whose
    # docstring guards claim the curves stay ~linear)
    "graph_triangle_cluster",
    "dedup_ngram_jaccard",
    "dedup_semantic",
    "corpus_overlap_matrix",
    "dedup_paragraphs",
]

RUNS = 3


def build_sf02(spark) -> None:
    """Materialize the synthetic sf0.2 twin (idempotent via sentinel)."""
    from pyspark.sql import functions as F

    done = Path(SF02) / "_build_complete"
    if done.exists():
        return
    shutil.rmtree(SF02, ignore_errors=True)
    Path(SF02).mkdir(parents=True)
    for table, keys in TABLES.items():
        df = spark.read.parquet(f"{SF01}/{table}.parquet")
        if keys is None:
            out = df
        else:
            copy = df
            for k in keys:
                copy = copy.withColumn(k, F.col(k) + F.lit(KEY_OFFSET))
            if table == "documents":
                copy = copy.withColumn(
                    "text",
                    F.array_join(
                        F.reverse(F.split(F.col("text"), " ")), " "
                    ),
                )
            if table == "embeddings":
                vec_col = next(
                    f.name for f in df.schema.fields
                    if f.dataType.simpleString().startswith("array")
                )
                copy = copy.withColumn(
                    vec_col, F.transform(F.col(vec_col), lambda x: -x)
                )
            out = df.unionByName(copy)
        # single file per table, like the driver's testdata layout
        out.coalesce(1).write.mode("overwrite").parquet(
            f"{SF02}/{table}.parquet"
        )
    done.touch()


def main() -> None:
    from sales_etl_spark.plans import QUERY_REGISTRY
    from sales_etl_spark.session import get_spark

    # CURVE=sf1: the round-9 checkpoint — sf0.1 -> synthetic sf1.0
    # (10x), one step, min-of-RUNS.
    sf1_mode = os.environ.get("CURVE") == "sf1"
    queries = sys.argv[1:] or DEFAULT_QUERIES
    spark = get_spark(
        "sales-etl-spark-scaling", master="local[32]",
        shuffle_partitions=8,
    )
    spark.sparkContext.setLogLevel("ERROR")
    if sf1_mode:
        build_sf10(spark)
    else:
        build_sf02(spark)

    spark.range(1_000_000).selectExpr("sum(id)").collect()

    steps = [(SF01, SF10, 10.0)] if sf1_mode else STEPS
    sf_dirs = (SF01, SF10) if sf1_mode else (SF001, SF01, SF02)
    curve: dict[str, dict[str, float]] = {}
    for sf_dir in sf_dirs:
        for t in TABLES:
            spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        for name in queries:
            builder = QUERY_REGISTRY[name].builder

            def run() -> None:
                builder(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()

            run()  # untimed warm-up (codegen JIT)
            times = []
            for _ in range(RUNS):
                t0 = time.perf_counter()
                run()
                times.append(time.perf_counter() - t0)
            curve.setdefault(name, {})[sf_dir] = round(min(times), 3)
            spark.catalog.clearCache()

    report = {}
    for name, by_sf in curve.items():
        ratios = {}
        for lo, hi, data_ratio in steps:
            r = round(by_sf[hi] / by_sf[lo], 2) if by_sf[lo] else None
            ratios[f"x{data_ratio:g}_data"] = r
        report[name] = {
            "sec": {Path(k).name: v for k, v in by_sf.items()},
        }
        for key, r in ratios.items():
            report[name][f"time_ratio_at_{key}"] = r
    print(json.dumps({"curve": report}))
    spark.stop()


if __name__ == "__main__":
    main()

"""Minimal transaction-log table format (Delta/Iceberg's core idea,
engine-native): a table is a directory of immutable parquet data files
plus an ordered log of JSON manifests; the MANIFEST is the unit of
atomicity, so readers either see a complete committed snapshot or the
previous one — never a partial write.

Layout::

    table/
      data/<version>-<uuid>-partN.parquet   (immutable, write-once)
      deletes/<uuid>-dvN.parquet            (positional deletion vectors)
      _log/00000000.json                    (manifest: file list + mode
      _log/00000001.json                     + optional delete_files)

Guarantees (local/posix filesystem; object stores need the usual
if-none-match put, same protocol):

- ATOMIC PUBLISH: data files land first, then the manifest appears as
  one ``os.link`` of a fully-written temp file to its version name —
  create-if-absent WITH content, so readers can never observe a
  reserved-but-empty manifest. A crash mid-write leaves orphan data
  files that no manifest references — invisible to readers, reclaimed
  by :func:`vacuum`.
- OPTIMISTIC CONCURRENCY: a committer losing the link() race re-reads
  the log and retries on the next version (append commits compose;
  overwrite commits last-writer-wins — the Delta conflict matrix
  collapsed to the two modes this sink supports). Read-modify-write
  commits (merge, delete, compaction) pin ``expected_base`` instead
  and redo their work on :class:`CommitConflict`. Every writer stages
  its files through one helper and publishes through
  :func:`commit_staged`.
- TIME TRAVEL: every version's file list is kept; ``read_table(...,
  version=n)`` reproduces any historical snapshot until ``vacuum``
  drops files unreferenced by retained versions.

This replaces the rename-swap dance in streaming/upsert_sink.py at
the "real deployment" layer its docstring promises: the snapshot swap
becomes manifest vN → vN+1, and recovery is "read the latest
manifest" with no repair states. The implementation is deliberately
tiny — one JSON manifest per commit, carrying optional per-file
min/max stats (``stats_cols`` → range skipping) and bloom skip
indexes (``bloom_cols`` → point-lookup skipping) — Delta's
data-skipping surface without the format weight (see
load.write_parquet cluster_by/zorder for the layout half).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


#: Row bound under which a deletion-vector staging write may
#: coalesce(1). DV rows are two slim columns (file name, position) —
#: ~tens of bytes each — so 10M rows is a few hundred MB in one task:
#: fine for the retention/retraction deletes DVs exist for, and the
#: single output file keeps the manifest small. PAST the bound
#: (a corpus-sized retraction) the write keeps its natural
#: partitioning — the staging rename loop already handles multiple
#: part files — so no frame can route through one task just because
#: it passed through this sink.
_DV_SINGLE_FILE_MAX_ROWS = 10_000_000


def _stage(
    df: DataFrame, table_path: str, sub: str = "data",
    n_rows: int | None = None,
) -> list[str]:
    """Write ``df`` to a private ``_staging-<token>`` directory, rename
    its part files into ``sub/`` (``data`` or ``deletes``) and return
    their table-relative names — the files exist on disk but stay
    invisible to readers until a manifest names them. Every writer in
    this module stages here and publishes through :func:`commit_staged`
    (the DataSource sink writes its files on executors instead).

    Deletion vectors (``sub='deletes'``) are written single-file while
    ``n_rows`` — the caller's row count, which it already took to
    decide no-op vs commit — stays under _DV_SINGLE_FILE_MAX_ROWS, and
    naturally partitioned past it."""
    table = Path(table_path)
    token = uuid.uuid4().hex[:12]
    staging = table / f"_staging-{token}"
    if sub == "deletes" and n_rows <= _DV_SINGLE_FILE_MAX_ROWS:
        df = df.coalesce(1)
    df.write.mode("overwrite").parquet(str(staging))
    (table / sub).mkdir(parents=True, exist_ok=True)
    tag = "dv" if sub == "deletes" else "part"
    names = []
    for i, part in enumerate(sorted(staging.glob("*.parquet"))):
        name = f"{sub}/{token}-{tag}{i:05d}.parquet"
        os.rename(part, table / name)
        names.append(name)
    shutil.rmtree(staging, ignore_errors=True)
    return names


def _log_dir(table_path: str) -> Path:
    return Path(table_path) / "_log"


def _manifest_path(table_path: str, version: int) -> Path:
    return _log_dir(table_path) / f"{version:08d}.json"


def versions(table_path: str) -> list[int]:
    """Committed versions, ascending (contiguous from 0)."""
    log = _log_dir(table_path)
    if not log.is_dir():
        return []
    out = sorted(
        int(p.stem) for p in log.glob("*.json") if p.stem.isdigit()
    )
    return out


def _read_manifest(table_path: str, version: int) -> dict:
    return json.loads(_manifest_path(table_path, version).read_text())


def _live_positions(
    spark: SparkSession, table_path: str, df: DataFrame,
    delete_files: list[str],
) -> DataFrame:
    """``df`` (a scan of the table's data files) plus each row's
    (``__file``, ``__pos``) coordinates from the parquet reader's
    hidden ``_metadata`` columns, with the rows the deletion vectors
    ``delete_files`` name anti-joined out."""
    from pyspark.sql import functions as F

    df = df.withColumn(
        "__file",
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
    ).withColumn("__pos", F.col("_metadata.row_index"))
    if delete_files:
        dv = spark.read.parquet(
            *[str(Path(table_path) / f) for f in delete_files]
        )
        df = df.join(F.broadcast(dv), ["__file", "__pos"], "left_anti")
    return df


class CommitConflict(RuntimeError):
    """Raised when ``expected_base`` no longer matches the table's
    latest version — another writer committed in between. The caller
    must RE-READ the table and redo its transformation before
    retrying (its staged output was derived from a stale snapshot, so
    blindly bumping the version number would publish lost updates)."""


def _file_stats(path: Path, cols: list[str]) -> dict:
    """Per-file min/max for ``cols`` from the parquet FOOTER (pure
    metadata — no data pages read). Values must round-trip JSON, so
    timestamps/dates are ISO-stringified; a column with no usable
    statistics is simply absent (reader treats absent as unknown =
    never prune)."""
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(str(path)).metadata
    out: dict = {}
    idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
    for col in cols:
        if col not in idx:
            continue
        lo = hi = None
        ok = True
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx[col]).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if ok and lo is not None:
            def _j(v):
                return v.isoformat() if hasattr(v, "isoformat") else v

            out[col] = [_j(lo), _j(hi)]
    return out


#: Bloom skip-index defaults: 8192 bits = 128 manifest longs per
#: (file, column); 6 hashes → fpp ≈ 0.6% at 1k distinct keys/file.
BLOOM_BITS = 8192
BLOOM_HASHES = 6


def _file_blooms(
    spark: SparkSession,
    table_path: str,
    rel_files: list[str],
    cols: list[str],
    m_bits: int,
    k: int,
) -> dict:
    """Per-(file, column) BLOOM FILTERS over the staged files, built
    DISTRIBUTED: one Spark pass explodes each value into its k bit
    positions (``xxhash64(value, seed) mod m`` — the JVM hash, so the
    read-side probe computes the identical positions) and bit-ORs
    them into ``m/64`` longs per file. The collect is manifest-sized
    metadata (≤128 rows × files × cols), never data.

    This is the POINT-LOOKUP half of data skipping that min/max zone
    maps can't provide: hash-distributed files have overlapping
    [min, max] ranges (zone maps prune nothing), but a bloom answers
    "key definitely absent from this file" regardless of layout —
    Delta's bloom-filter index / Iceberg puffin blobs, manifest-native.
    Words are stored UNSIGNED so JSON round-trips exactly.

    ``m_bits`` is a floor: the filter AUTO-SIZES to ≥16 bits per row
    of the largest staged file (footer metadata, no data read) so the
    false-positive rate stays ~1e-3 instead of saturating as files
    grow — capped at 2^20 bits (16 KB of manifest per file·col; past
    that, a JSON manifest is the wrong store and the cap trades fpp
    for metadata size, which only weakens skipping, never
    correctness)."""
    from pyspark.sql import functions as F

    import pyarrow.parquet as pq

    paths = [str(Path(table_path) / f) for f in rel_files]
    max_rows = max(
        (pq.ParquetFile(p).metadata.num_rows for p in paths), default=0
    )
    while m_bits < min(16 * max_rows, 1 << 20):
        m_bits *= 2
    df = spark.read.parquet(*paths)
    out: dict = {}
    dtypes = dict(df.dtypes)
    for col in cols:
        if col not in dtypes:
            continue
        pos = F.explode(
            F.array(
                *[
                    F.pmod(
                        F.xxhash64(F.col(col), F.lit(seed)), F.lit(m_bits)
                    )
                    for seed in range(k)
                ]
            )
        ).alias("pos")
        rows = (
            df.filter(F.col(col).isNotNull())
            .select(
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ).alias("__file"),
                pos,
            )
            .select(
                "__file",
                (F.col("pos") / 64).cast("int").alias("word"),
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
                ).alias("mask"),
            )
            .groupBy("__file", "word")
            .agg(F.bit_or("mask").alias("bits"))
            .collect()
        )
        for r in rows:
            ent = out.setdefault(f"data/{r['__file']}", {}).setdefault(
                col,
                {
                    "m": m_bits,
                    "k": k,
                    "type": dtypes[col],
                    "words": [0] * (m_bits // 64),
                },
            )
            ent["words"][r["word"]] = r["bits"] & 0xFFFFFFFFFFFFFFFF
    return out


def bloom_pruned_files(
    spark: SparkSession, table_path: str, version: int, col: str, value
) -> tuple[list[str], int]:
    """Manifest-level POINT-LOOKUP skipping: the snapshot's files whose
    bloom for ``col`` might contain ``value``, plus every file with no
    recorded bloom (unknown ⇒ must read — skipping is an optimization,
    never a filter; no false negatives by bloom construction). The k
    probe positions come from a 1-row Spark job so the hash is the
    same JVM ``xxhash64`` (with the value cast to the column type
    recorded at write — xxhash64 is type-sensitive) that built the
    index. Returns (files, n_skipped)."""
    from pyspark.sql import functions as F

    m_ = _read_manifest(table_path, version)
    bloom = m_.get("bloom") or {}
    keep: list[str] = []
    skipped = 0
    pos_cache: dict[tuple, list[int]] = {}
    for f in m_["files"]:
        ent = (bloom.get(f) or {}).get(col)
        if ent is None:
            keep.append(f)
            continue
        key = (ent["m"], ent["k"], ent["type"])
        if key not in pos_cache:
            row = (
                spark.range(1)
                .select(
                    *[
                        F.pmod(
                            F.xxhash64(
                                F.lit(value).cast(ent["type"]), F.lit(s)
                            ),
                            F.lit(ent["m"]),
                        ).alias(f"p{s}")
                        for s in range(ent["k"])
                    ]
                )
                .collect()[0]
            )
            pos_cache[key] = [row[f"p{s}"] for s in range(ent["k"])]
        words = ent["words"]
        if all(words[p // 64] & (1 << (p % 64)) for p in pos_cache[key]):
            keep.append(f)
        else:
            skipped += 1
    return keep, skipped


def commit_write(
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    max_retries: int = 10,
    expected_base: int | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = BLOOM_BITS,
    bloom_hashes: int = BLOOM_HASHES,
    extra_manifest: dict | None = None,
) -> int:
    """Write ``df``'s rows as new immutable data files and commit them
    atomically as the next table version. Returns the version number.

    ``extra_manifest`` merges caller fields (e.g. a streaming sink's
    ``batch_id`` / ``txn_app_id`` idempotence markers) into the
    manifest INSIDE the atomic publish — the marker and the version
    appear together or not at all, so no crash window can leave a
    committed version without its replay marker (the Delta txn-action
    pattern).

    ``mode='append'`` adds the files to the previous snapshot;
    ``mode='overwrite'`` makes them the whole snapshot (old files stay
    on disk for time travel until vacuumed).

    ``expected_base`` turns the commit into a compare-and-swap: if the
    table's latest version is no longer ``expected_base`` at publish
    time, :class:`CommitConflict` is raised instead of silently
    rebasing (pass ``-1`` to assert the table is still EMPTY).
    REQUIRED for read-modify-write commits (compaction, merge
    rewrites) whose staged files were derived from a snapshot — for
    pure appends the default blind rebase is correct and cheaper.

    ``stats_cols`` records per-file min/max for the named columns in
    the manifest (harvested from the parquet footers — metadata-only),
    enabling manifest-level DATA SKIPPING at read time
    (:func:`read_table` ``prune=``): the Delta data-skipping half the
    module docstring defers. Pair with load.write_parquet's
    range-clustering so file ranges are disjoint and skipping bites.

    ``bloom_cols`` additionally records a per-file BLOOM skip index
    for the named columns (:func:`_file_blooms`), enabling point-
    lookup skipping (:func:`read_table` ``point=``) even on layouts
    where ranges overlap and zone maps are useless.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unknown commit mode: {mode}")
    # 1. stage the data files (invisible to readers until the commit)
    new_files = _stage(df, table_path)
    new_stats = (
        {f: _file_stats(Path(table_path) / f, stats_cols) for f in new_files}
        if stats_cols else {}
    )
    new_bloom: dict = {}
    if bloom_cols and new_files:
        new_bloom = _file_blooms(
            df.sparkSession,
            table_path,
            new_files,
            bloom_cols,
            bloom_bits,
            bloom_hashes,
        )

    # 2. commit: O_EXCL manifest create, retry on version races
    return commit_staged(
        table_path, new_files, mode,
        max_retries=max_retries, expected_base=expected_base,
        new_stats=new_stats, new_bloom=new_bloom,
        extra_manifest=extra_manifest,
    )


#: Manifest keys the commit protocol itself owns — ``extra_manifest``
#: may not shadow them (a caller overwriting ``files`` would corrupt
#: the snapshot silently).
_RESERVED_MANIFEST_KEYS = frozenset(
    {"version", "mode", "files", "n_new_files", "delete_files",
     "stats", "bloom"}
)


def commit_staged(
    table_path: str,
    new_files: list[str],
    mode: str = "append",
    max_retries: int = 10,
    expected_base: int | None = None,
    new_stats: dict | None = None,
    new_bloom: dict | None = None,
    extra_manifest: dict | None = None,
    new_delete_files: list[str] | None = None,
) -> int:
    """Publish ALREADY-STAGED data files (table-relative names, bytes
    fully on disk, invisible until named) as the next version — the
    manifest half of every lake write (:func:`commit_write`,
    :func:`delete_where`, :func:`merge_into`), exposed for writers that
    produce files on executors themselves (the Python DataSource sink
    in sources/lake_sink.py). Same O_EXCL link protocol, same version
    -race retries, same append carry-forward of deletion vectors and
    skip indexes.

    ``mode='merge'`` and ``mode='delete'`` are append-shaped commits
    that also add the staged deletion vectors ``new_delete_files``
    (``deletes/...`` names) to the carried ones. Their positions were
    computed against one snapshot, so both require ``expected_base``."""
    if mode not in ("append", "overwrite", "merge", "delete"):
        raise ValueError(f"unknown commit mode: {mode}")
    if mode in ("merge", "delete"):
        if expected_base is None:
            raise ValueError(f"a {mode} commit requires expected_base")
    elif new_delete_files:
        raise ValueError(f"an {mode} commit cannot add deletion vectors")
    if extra_manifest:
        bad = _RESERVED_MANIFEST_KEYS & extra_manifest.keys()
        if bad:
            raise ValueError(
                f"extra_manifest may not shadow protocol keys: {sorted(bad)}"
            )
    new_stats = new_stats or {}
    new_bloom = new_bloom or {}
    new_delete_files = new_delete_files or []
    _log_dir(table_path).mkdir(parents=True, exist_ok=True)
    token = uuid.uuid4().hex[:12]
    for _ in range(max_retries):
        existing = versions(table_path)
        if expected_base is not None:
            latest = existing[-1] if existing else -1
            if latest != expected_base:
                raise CommitConflict(
                    f"table advanced to v{latest} while staging against "
                    f"v{expected_base}; re-read and retry"
                )
        version = (existing[-1] + 1) if existing else 0
        carried_dv: list[str] = []
        stats: dict = dict(new_stats)
        bloom: dict = dict(new_bloom)
        if mode != "overwrite" and existing:
            prev = _read_manifest(table_path, existing[-1])
            files = prev["files"] + new_files
            # deletion vectors target immutable existing files — an
            # append must carry them forward or deleted rows would
            # silently resurrect (new files can't collide: unique
            # uuid names, vectors reference files by name). Stats and
            # blooms stay sound after deletes: bounds only get looser
            # and a deleted key degrades to a false positive.
            carried_dv = prev.get("delete_files") or []
            stats = {**(prev.get("stats") or {}), **new_stats}
            bloom = {**(prev.get("bloom") or {}), **new_bloom}
        else:
            files = list(new_files)
        manifest = {
            "version": version,
            "mode": mode,
            "files": files,
            "n_new_files": len(new_files),
        }
        if carried_dv or new_delete_files:
            manifest["delete_files"] = carried_dv + new_delete_files
        if stats:
            manifest["stats"] = stats
        if bloom:
            manifest["bloom"] = bloom
        if extra_manifest:
            manifest.update(extra_manifest)
        target = _manifest_path(table_path, version)
        # fully-written unique temp, then hard-link to the version
        # name: link() is create-if-absent WITH content — the claim
        # and the publish are one atomic operation, so a reader can
        # never observe a reserved-but-empty manifest.
        tmp = _log_dir(table_path) / f".tmp-{token}-{version}.json"
        tmp.write_text(json.dumps(manifest))
        try:
            os.link(tmp, target)
        except FileExistsError:
            tmp.unlink()
            continue  # lost the race — re-read the log, try next version
        tmp.unlink()
        return version
    raise RuntimeError(
        f"commit contention: {max_retries} version races lost"
    )


def pruned_files(
    table_path: str, version: int, col: str, lo, hi
) -> tuple[list[str], int]:
    """Manifest-level data skipping: the snapshot's files whose
    [min, max] range for ``col`` intersects [lo, hi], plus every file
    with NO recorded stats (unknown ⇒ must read — skipping is an
    optimization, never a filter). Returns (files, n_skipped)."""
    m = _read_manifest(table_path, version)
    stats = m.get("stats") or {}

    def _k(v):
        return v.isoformat() if hasattr(v, "isoformat") else v

    lo, hi = _k(lo), _k(hi)
    keep, skipped = [], 0
    for f in m["files"]:
        rng = (stats.get(f) or {}).get(col)
        if rng is not None and (rng[1] < lo or rng[0] > hi):
            skipped += 1
            continue
        keep.append(f)
    return keep, skipped


def read_table(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    merge_schema: bool = False,
    prune: tuple | None = None,
    point: tuple | None = None,
) -> DataFrame:
    """The committed snapshot as a DataFrame — latest, or any retained
    historical ``version`` (time travel). ``merge_schema=True`` unions
    the file schemas (schema EVOLUTION across commits: a column added
    in a later version reads as NULL for earlier files — the additive
    half of Delta's evolution support; renames/drops still need a
    rewrite).

    If the manifest carries deletion vectors (``delete_files``, see
    :func:`delete_where`), the deleted (file, position) pairs are
    anti-joined out at read time via the parquet reader's hidden
    ``_metadata.row_index`` column — rows vanish without their data
    files having been rewritten.

    ``prune=(col, lo, hi)`` applies manifest-level DATA SKIPPING
    (:func:`pruned_files`): files whose recorded [min, max] for
    ``col`` cannot intersect [lo, hi] are never opened. The caller
    still applies the actual row filter — skipping only shrinks the
    file list (exactly Delta's stats-based pruning contract).

    ``point=(col, value)`` applies BLOOM-INDEX skipping
    (:func:`bloom_pruned_files`) for point lookups; composes with
    ``prune`` (intersection — a file must survive both)."""
    vs = versions(table_path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {table_path}")
    if version is None:
        version = vs[-1]
    if version not in vs:
        raise ValueError(f"version {version} not in {vs}")
    manifest = _read_manifest(table_path, version)
    files = manifest["files"]
    if prune is not None:
        files, _ = pruned_files(table_path, version, *prune)
    if point is not None:
        bloom_keep, _ = bloom_pruned_files(spark, table_path, version, *point)
        keep_set = set(bloom_keep)
        files = [f for f in files if f in keep_set]
    if not files:
        return spark.read.parquet(str(Path(table_path) / "data")).limit(0)
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(*[str(Path(table_path) / f) for f in files])
    delete_files = manifest.get("delete_files") or []
    if delete_files:
        df = _live_positions(spark, table_path, df, delete_files).select(
            *df.columns
        )
    return df


def read_changes(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change feed for APPEND commits: the rows added strictly AFTER
    ``from_version`` up to ``to_version`` (default latest) — exact CDC
    for append-only tables, because files are immutable and each
    manifest names the files its commit introduced. Raises if the
    range crosses an overwrite commit (a snapshot replacement has no
    row-level delta without diffing — the caller should re-read the
    snapshot instead, or keep key+version columns and diff with
    upsert_last_wins)."""
    vs = versions(table_path)
    if to_version is None:
        to_version = vs[-1]
    if from_version not in vs or to_version not in vs:
        raise ValueError(f"range [{from_version},{to_version}] not in {vs}")
    new_files: list[str] = []
    for v in vs:
        if from_version < v <= to_version:
            m = _read_manifest(table_path, v)
            if m["mode"] != "append":
                raise ValueError(
                    f"version {v} is an overwrite commit - no row-level "
                    "change feed across snapshot replacements"
                )
            new_files.extend(m["files"][-m["n_new_files"]:])
    if not new_files:
        return read_table(spark, table_path, to_version).limit(0)
    return spark.read.parquet(
        *[str(Path(table_path) / f) for f in new_files]
    )


def delete_where(
    spark: SparkSession,
    table_path: str,
    predicate: str,
    max_retries: int = 5,
) -> int | None:
    """Row-level DELETE without rewriting data files — positional
    deletion vectors (Iceberg v2 / Delta DV shape): the rows matching
    ``predicate`` (a SQL boolean expression over the table's columns)
    are recorded as (file, row position) pairs in small parquet
    "delete files" under ``deletes/``; the data files stay byte-
    identical, and :func:`read_table` anti-joins the vectors out.

    Why this exists: an overwrite commit rewrites the ENTIRE snapshot
    to drop a handful of rows (GDPR erasure, bad-record retraction) —
    at 100 TB that is the difference between touching terabytes and
    writing kilobytes. Deletes COMPOSE (each commit appends vectors;
    positions are stable because data files are immutable), time
    travel still shows pre-delete versions, and the next
    :func:`compact` MATERIALIZES the deletions (its rewrite reads
    through the vectors and commits a clean file list, clearing
    ``delete_files``).

    Returns the committed version, or None when nothing matched (a
    no-op must not burn a version: idempotent retention jobs re-run
    their predicates daily).

    Concurrency: read-modify-write — positions are computed against a
    snapshot, so the commit is compare-and-swapped against it and
    retried on conflict, like :func:`compact`."""
    from pyspark.sql import functions as F

    table = Path(table_path)
    for _ in range(max_retries):
        vs = versions(table_path)
        if not vs:
            raise FileNotFoundError(f"no committed versions at {table_path}")
        base = vs[-1]
        manifest = _read_manifest(table_path, base)
        files = manifest["files"]
        if not files:
            return None
        # positions of surviving-then-matching rows, against this
        # exact snapshot (existing vectors applied first — a row
        # already deleted must not be re-recorded)
        df = _live_positions(
            spark, table_path,
            spark.read.parquet(*[str(table / f) for f in files]),
            manifest.get("delete_files") or [],
        )
        matches = df.filter(F.expr(predicate)).select("__file", "__pos")
        # one count serves both the no-op check and the staging-size
        # decision (an isEmpty here plus a count inside the stager
        # would execute the matches lineage three times)
        n_matches = matches.count()
        if n_matches == 0:
            return None
        new_dv = _stage(matches, table_path, "deletes", n_matches)
        try:
            return commit_staged(
                table_path, [], "delete", expected_base=base,
                new_delete_files=new_dv,
            )
        except CommitConflict:
            continue  # foreign commit mid-delete: recompute positions
    raise RuntimeError(
        f"delete contention: {max_retries} conflicts at {table_path}"
    )


def merge_into(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    keys: list[str],
    max_retries: int = 5,
) -> int:
    """Atomic MERGE (upsert semantics): rows of ``source`` whose keys
    exist in the table REPLACE the stored rows; the rest INSERT — in
    ONE commit combining deletion vectors (for the replaced rows'
    old positions) with new data files (for the entire source), so a
    reader sees either the pre-merge or the post-merge table, never a
    half-applied state. This is the Delta/Iceberg ``MERGE INTO``
    shape, and the transaction-log upgrade of the reference's
    ON CONFLICT upsert (etl/load.py:91-96): same semantics, but
    file-rewrite-free on the un-touched data (an overwrite-based
    upsert rewrites the whole snapshot; here old files stay and only
    their replaced positions are masked).

    ``source`` must be key-unique (pre-dedup with upsert_last_wins
    for versioned streams). Read-modify-write: CAS against the
    snapshot the positions were computed on, retried on conflict."""
    table = Path(table_path)
    for _ in range(max_retries):
        vs = versions(table_path)
        base = vs[-1] if vs else None
        if base is None:
            try:
                return commit_write(source, table_path, expected_base=-1)
            except CommitConflict:
                continue  # another writer created the table: merge into it
        manifest = _read_manifest(table_path, base)
        # positions of live rows whose key appears in the source
        snap = _live_positions(
            spark, table_path,
            spark.read.parquet(*[str(table / f) for f in manifest["files"]]),
            manifest.get("delete_files") or [],
        )
        replaced = snap.join(
            source.select(*keys).dropDuplicates(keys), keys, "left_semi"
        ).select("__file", "__pos")

        # stage the new data files (the whole source: updates +
        # inserts), then deletion vectors for the replaced positions
        # (if any); count once — it decides both the skip and the
        # staging size. The merge's new files carry no stats
        # (unknown => always read — sound, never wrong).
        new_files = _stage(source, table_path)
        n_replaced = replaced.count()
        new_dv = (
            _stage(replaced, table_path, "deletes", n_replaced)
            if n_replaced else []
        )
        try:
            return commit_staged(
                table_path, new_files, "merge", expected_base=base,
                new_delete_files=new_dv,
            )
        except CommitConflict:
            continue  # foreign commit mid-merge: recompute everything
    raise RuntimeError(
        f"merge contention: {max_retries} conflicts at {table_path}"
    )


def vacuum(table_path: str, keep_versions: int = 1) -> list[str]:
    """Drop data files unreferenced by the ``keep_versions`` newest
    manifests (and the older manifests themselves). Returns the
    deleted file names. Time travel shrinks to the retained window —
    the same contract as Delta's VACUUM."""
    vs = versions(table_path)
    if not vs:
        return []
    keep = vs[-keep_versions:]
    live: set[str] = set()
    for v in keep:
        m = _read_manifest(table_path, v)
        live.update(m["files"])
        live.update(m.get("delete_files") or [])
    deleted = []
    for sub in ("data", "deletes"):
        d = Path(table_path) / sub
        if not d.is_dir():
            continue
        for f in sorted(d.glob("*.parquet")):
            rel = f"{sub}/{f.name}"
            if rel not in live:
                f.unlink()
                deleted.append(rel)
    for v in vs:
        if v not in keep:
            _manifest_path(table_path, v).unlink()
    return deleted


def compact(
    spark: SparkSession,
    table_path: str,
    target_files: int = 1,
    max_retries: int = 5,
) -> int:
    """OPTIMIZE: bin-pack the current snapshot into ``target_files``
    larger files and commit the result atomically as a new overwrite
    version; prior versions stay time-travelable until vacuumed.

    The small-files problem is the steady-state tax of streaming /
    incremental ingest — every micro-batch commit adds files, and
    scan cost grows with file COUNT, not just bytes (footer reads,
    task scheduling, row-group fragmentation). At 100 TB run this per
    partition on a schedule, sizing ``target_files`` so each output
    file lands near the scan split size (maxPartitionBytes): one file
    per split is the zero-waste layout. ``coalesce`` (not
    ``repartition``) keeps the rewrite shuffle-free.

    Concurrency: the overwrite is a READ-MODIFY-WRITE, so it commits
    with compare-and-swap against the snapshot version it compacted
    (``expected_base``) — an append that lands mid-compaction raises
    :class:`CommitConflict` inside and the compaction re-reads and
    retries, instead of silently republishing the stale snapshot and
    dropping the new rows (the lost-update OPTIMIZE bug Delta's
    conflict checker exists to prevent)."""
    for _ in range(max_retries):
        vs = versions(table_path)
        if not vs:
            raise ValueError(f"no committed versions at {table_path}")
        base = vs[-1]
        prev = _read_manifest(table_path, base)
        # re-harvest stats for whichever columns the table tracked —
        # compaction must not silently drop the data-skipping index
        tracked = sorted(
            {c for s in (prev.get("stats") or {}).values() for c in s}
        )
        tracked_bloom = sorted(
            {c for b in (prev.get("bloom") or {}).values() for c in b}
        )
        df = read_table(spark, table_path, version=base).coalesce(
            target_files
        )
        try:
            return commit_write(
                df, table_path, mode="overwrite", expected_base=base,
                stats_cols=tracked or None,
                bloom_cols=tracked_bloom or None,
            )
        except CommitConflict:
            continue  # someone appended mid-compaction: re-read, redo
    raise RuntimeError(
        f"compaction contention: {max_retries} conflicts at {table_path}"
    )


class BatchIdRegression(ValueError):
    """A foreachBatch sink presented a batch_id STRICTLY BELOW the
    same query's recorded marker. Under Structured Streaming's
    contract (per-query monotonic ids, only the last uncommitted batch
    replays) this cannot happen in a healthy run — it means the
    checkpoint directory was reset (ids restarted at 0) or two queries
    share one ``query_id``. Silently skipping would be DATA LOSS
    (every new batch ≤ the old marker dropped); silently appending
    would double old data. Raising forces the operator to choose:
    fresh ``query_id`` for a reprocess, or restore the checkpoint."""


def commit_upsert_batch(
    batch_df: DataFrame,
    table_path: str,
    keys: list[str],
    order_by: list[str],
    batch_id: int,
    query_id: str | None = None,
) -> int | None:
    """EXACTLY-ONCE streaming upsert on the transaction log: merge one
    micro-batch into the keyed snapshot, idempotent under foreachBatch
    replay. The committed manifest records ``batch_id`` (and
    ``txn_app_id`` when ``query_id`` is given) ATOMICALLY with the
    commit itself (``extra_manifest`` — no stamp-after-publish crash
    window); a replayed batch (id equal to the same query's marker) is
    detected BEFORE any write and skipped, so at-least-once delivery +
    idempotent commit = exactly-once table state — the property the
    rename-swap parquet sink can only approximate (its replay
    re-merges, converging by last-wins; here the duplicate work never
    happens at all).

    Returns the committed version, None for a skipped replay; raises
    :class:`BatchIdRegression` when ``batch_id`` is strictly below the
    recorded marker (checkpoint reset — see the class docstring).

    The replay marker is found by scanning manifests NEWEST-FIRST for
    the most recent commit carrying this query's marker
    (:func:`latest_batch_id`), so a foreign commit on the table (a
    scheduled :func:`compact`, a manual append) between two batches
    does NOT erase idempotence — the latest-manifest-only shortcut
    would re-append a replayed batch after any such commit.

    The merge is a read-modify-write, so it commits with
    compare-and-swap against the snapshot it merged (see
    :func:`compact`): a foreign commit landing mid-merge (a scheduled
    compaction, an unexpected second writer) triggers a re-read and
    re-merge instead of a silent overwrite of the other writer's rows.
    """
    from sales_etl_spark.operators.upsert import upsert_last_wins

    marker = {"batch_id": batch_id}
    if query_id is not None:
        marker["txn_app_id"] = query_id
    for _ in range(5):
        vs = versions(table_path)
        base = vs[-1] if vs else None
        if is_replayed_batch(table_path, batch_id, query_id):
            return None  # replay of an already-committed batch
        if vs:
            spark = batch_df.sparkSession
            merged = upsert_last_wins(
                read_table(spark, table_path, version=base).unionByName(
                    batch_df
                ),
                keys,
                order_by,
            )
        else:
            merged = upsert_last_wins(batch_df, keys, order_by)
        try:
            return commit_write(
                merged, table_path, mode="overwrite",
                expected_base=base if base is not None else -1,
                extra_manifest=marker,
            )
        except CommitConflict:
            continue  # foreign commit mid-merge: re-read, re-merge
    raise RuntimeError(
        f"upsert contention: 5 conflicts at {table_path}"
    )


def latest_batch_id(
    table_path: str, query_id: str | None = None
) -> int | None:
    """The replay marker for one streaming query: ``batch_id`` of the
    most recent commit whose ``txn_app_id`` matches ``query_id``,
    scanning manifests NEWEST-FIRST — or None when no commit carries
    this query's marker. The scan (rather than latest-manifest-only)
    means a foreign commit interleaved on the table (compaction,
    manual append, a second query's batches) cannot erase another
    writer's idempotence marker. Cost: one small JSON read per
    manifest walked; for a table written chiefly by its own stream the
    marker is on the latest manifest and the walk is O(1).

    CAVEAT: :func:`vacuum` can drop old manifests — a retention
    window shorter than the gap between a query's batches could
    discard its only marker (then a replay would re-append). Size
    retention above the streaming trigger interval, as Delta does for
    its txn actions.

    The replay test every idempotent foreachBatch sink runs BEFORE
    doing any work (see :func:`commit_append_batch`)."""
    for v in reversed(versions(table_path)):
        m = _read_manifest(table_path, v)
        if m.get("batch_id") is not None and m.get("txn_app_id") == query_id:
            return m["batch_id"]
    return None


def is_replayed_batch(
    table_path: str, batch_id: int, query_id: str | None
) -> bool:
    """True iff ``batch_id`` equals the query's recorded marker (the
    one legitimate replay Structured Streaming produces: the last
    batch, re-delivered after a crash before checkpoint commit).
    Raises :class:`BatchIdRegression` when strictly below it."""
    last = latest_batch_id(table_path, query_id)
    if last is None or batch_id > last:
        return False
    if batch_id == last:
        return True
    raise BatchIdRegression(
        f"batch_id {batch_id} is below the recorded marker {last} for "
        f"query_id={query_id!r} at {table_path}: Structured Streaming "
        "ids are per-query monotonic, so this indicates a reset "
        "checkpoint directory (ids restarted) or a query_id collision. "
        "Pass a fresh query_id to reprocess, or restore the checkpoint."
    )


def commit_append_batch(
    df: DataFrame,
    table_path: str,
    batch_id: int,
    max_retries: int = 5,
    query_id: str | None = None,
) -> int | None:
    """EXACTLY-ONCE streaming append on the transaction log: commit
    one micro-batch's rows as a new appended version, idempotent under
    foreachBatch replay — the append-mode sibling of
    :func:`commit_upsert_batch`. The committed manifest records
    ``batch_id`` (plus ``txn_app_id`` when ``query_id`` is given)
    ATOMICALLY with the commit (``extra_manifest`` inside the O_EXCL
    publish — a crash can never leave a committed version missing its
    marker, the window that made the raw append only
    exactly-once-absent-crash before round 11). A replayed batch (id
    equal to the same query's newest-first marker,
    :func:`latest_batch_id`) is detected BEFORE any write and skipped;
    an id STRICTLY BELOW the marker raises
    :class:`BatchIdRegression` (checkpoint reset) instead of silently
    dropping data. Returns the committed version, or None for a
    skipped replay.

    Commits with compare-and-swap against the version the replay test
    read, so a foreign commit landing in between triggers a re-read
    and re-test instead of double-appending past a replayed manifest.
    """
    marker = {"batch_id": batch_id}
    if query_id is not None:
        marker["txn_app_id"] = query_id
    for _ in range(max_retries):
        vs = versions(table_path)
        base = vs[-1] if vs else -1
        if is_replayed_batch(table_path, batch_id, query_id):
            return None  # replay of an already-committed batch
        try:
            return commit_write(
                df, table_path, mode="append", expected_base=base,
                extra_manifest=marker,
            )
        except CommitConflict:
            continue  # foreign commit mid-append: re-read, re-test
    raise RuntimeError(
        f"append contention: {max_retries} conflicts at {table_path}"
    )


def stream_upsert_lake(
    stream_df: DataFrame,
    table_path: str,
    keys: list[str],
    order_by: list[str],
    checkpoint_dir: str,
    query_id: str | None = None,
):
    """Wire a stream into the exactly-once lake upsert (foreachBatch;
    the caller picks the trigger and starts the query). Every
    micro-batch becomes one table version carrying its batch id. Pass
    a stable ``query_id`` when the table has other writers so this
    query's replay marker survives their commits."""
    keys = list(keys)
    order_by = list(order_by)

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        commit_upsert_batch(
            batch_df, table_path, keys, order_by, batch_id,
            query_id=query_id,
        )

    return (
        stream_df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
    )


def fsck(table_path: str) -> dict:
    """Manifest integrity audit (the lake's `fsck`): returns a report
    dict and NEVER mutates state — run it before trusting a table
    after manual surgery, a partial vacuum, or a filesystem restore.

    Checks, per the format's invariants:

    - ``missing_files``: (version, file) pairs a manifest references
      but the filesystem lacks — the ONE fatal state (a reader of
      that version will fail); every other finding is benign.
    - ``orphan_files``: data/delete files on disk no retained
      manifest references — invisible to readers, vacuum reclaims.
    - ``stale_stats`` / ``stale_bloom``: skip-index entries for files
      not in their manifest's file list — dead weight, never consulted
      (pruning iterates the file list, not the index), but a sign a
      manifest was hand-edited.
    - ``version_gaps``: missing version numbers in the log — fine for
      reads (readers use the latest retained version) but means
      history was partially vacuumed or a commit was hand-deleted.
    - ``ok``: no missing files (the only invariant readers need).
    """
    table = Path(table_path)
    vs = versions(table_path)
    report: dict = {
        "versions": vs,
        "missing_files": [],
        "orphan_files": [],
        "stale_stats": [],
        "stale_bloom": [],
        "version_gaps": [],
    }
    if not vs:
        report["ok"] = False
        report["missing_files"] = [(None, "<no committed versions>")]
        return report
    report["version_gaps"] = [
        v for v in range(vs[0], vs[-1]) if v not in set(vs)
    ]
    referenced: set[str] = set()
    for v in vs:
        m = _read_manifest(table_path, v)
        files = m["files"] + (m.get("delete_files") or [])
        referenced.update(files)
        for f in files:
            if not (table / f).exists():
                report["missing_files"].append((v, f))
        in_manifest = set(m["files"])
        for key, bucket in (("stats", "stale_stats"),
                            ("bloom", "stale_bloom")):
            for f in (m.get(key) or {}):
                if f not in in_manifest:
                    report[bucket].append((v, f))
    for sub in ("data", "deletes"):
        d = table / sub
        if d.is_dir():
            for p in sorted(d.glob("*.parquet")):
                rel = f"{sub}/{p.name}"
                if rel not in referenced:
                    report["orphan_files"].append(rel)
    report["ok"] = not report["missing_files"]
    return report

"""Designated-timestamp table convention.

The reference's table has a *designated timestamp* that physically orders
it and enables time-series queries (reference sql/create-table.sql:1
``timestamp(purchase_date)``; reference README.md:70-71). Spark has no such
notion, so we make it a storage convention — pure library code, no custom
Catalyst rules:

- writer (:func:`_write_days`, the one place the layout is written):
  one directory per UTC date of the ts column (``<col>_pdate=YYYY-MM-DD``)
  holding time-ordered files with tight min/max row-group stats;
- reader: time-range predicates prune partitions statically (Catalyst
  partition pruning on the derived date column) and row groups via parquet
  stats — the scan never touches out-of-range data.

At 100 TB this is the difference between scanning a day and scanning the
table: time filters become directory listings.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PARTITION_SUFFIX = "_pdate"

#: Sidecar carrying a bare `CREATE TABLE(col type, …)` declaration —
#: the catalog-less answer to "what is an EMPTY table's schema?". A
#: table created with rows (write_designated_ts / CTAS) needs no
#: sidecar: parquet footers + the ``<col>_pdate`` layout ARE the
#: catalog. The leading underscore keeps Spark's file index from
#: treating it as data (reference sql/create-table.sql:1 declares the
#: schema before any row exists; QuestDB holds it in table metadata).
TABLE_META_FILE = "_qdb_table_meta.json"


def write_table_meta(
    spark: SparkSession,
    path: str,
    columns: list[tuple[str, str, str]] | list[tuple[str, str, str, str]],
    ts_col: str,
    dedup_keys: list[str] | None = None,
) -> None:
    """Persist a declared-schema sidecar at ``path`` —
    ``columns`` = (name, spark_type, questdb_type[, stored_as]) in
    declared order; ``stored_as`` (optional 4th element) is the column's
    PHYSICAL name in the parquet files when it differs from the declared
    name — ``ALTER TABLE … RENAME COLUMN`` is a declaration-level move
    (QuestDB renames in table metadata without rewriting partitions;
    here the sidecar carries the declared→stored mapping and the
    declared read/write paths translate at the file boundary).
    ``dedup_keys`` (optional) is QuestDB's ``DEDUP UPSERT KEYS`` list
    (designated ts included) — the dialect's INSERT paths route through
    :func:`upsert_designated_ts` when present. Write-temp + rename,
    same commit discipline as the matview log."""
    import json

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.mkdirs(hpath)
    tmp = jvm.org.apache.hadoop.fs.Path(f"{path}/{TABLE_META_FILE}.tmp")
    final = jvm.org.apache.hadoop.fs.Path(f"{path}/{TABLE_META_FILE}")
    cols_payload = []
    for col in columns:
        n, st, qt = col[0], col[1], col[2]
        entry = {"name": n, "spark_type": st, "questdb_type": qt}
        if len(col) > 3 and col[3] and col[3] != n:
            entry["stored_as"] = col[3]
        cols_payload.append(entry)
    payload = {
        "designated": ts_col,
        "columns": cols_payload,
    }
    if dedup_keys:
        payload["dedup_keys"] = list(dedup_keys)
    stream = fs.create(tmp, True)
    try:
        stream.write(bytearray(json.dumps(payload).encode("utf-8")))
    finally:
        stream.close()
    # Hadoop rename does not overwrite: drop the superseded sidecar
    # first (ALTER … ADD COLUMN rewrites it). DDL is single-writer —
    # a concurrent reader hitting the instant between delete and
    # rename falls back to footer inference, same as a pre-sidecar
    # table.
    fs.delete(final, False)
    if not fs.rename(tmp, final):
        raise IOError(f"could not commit table meta at {final}")


def read_table_meta(spark: SparkSession, path: str) -> dict | None:
    """The declared-schema sidecar at ``path``, or None. Shape:
    ``{"designated": str, "columns": [{"name", "spark_type",
    "questdb_type"}, ...]}``."""
    import json

    jvm = spark._jvm
    meta = jvm.org.apache.hadoop.fs.Path(f"{path}/{TABLE_META_FILE}")
    fs = meta.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(meta):
        return None
    reader = jvm.java.io.BufferedReader(
        jvm.java.io.InputStreamReader(fs.open(meta), "UTF-8")
    )
    try:
        lines = []
        while True:
            line = reader.readLine()
            if line is None:
                break
            lines.append(line)
    finally:
        reader.close()
    return json.loads("\n".join(lines))


def stored_name(col_meta: dict) -> str:
    """A declared column's PHYSICAL parquet name — ``stored_as`` when
    the column was renamed (``ALTER TABLE … RENAME COLUMN`` never
    rewrites data), the declared name otherwise."""
    return col_meta.get("stored_as", col_meta["name"])


def meta_column_tuples(meta: dict) -> list[tuple[str, str, str, str]]:
    """Sidecar columns as (name, spark_type, questdb_type, stored_as)
    tuples — the shape :func:`write_table_meta` round-trips, so DDL
    handlers can edit one entry and write the rest back unchanged."""
    return [
        (c["name"], c["spark_type"], c["questdb_type"], stored_name(c))
        for c in meta["columns"]
    ]


def read_declared(
    spark: SparkSession, path: str, meta: dict
) -> DataFrame:
    """Read a declared-schema table in DECLARED column space: explicit
    schema over the STORED (physical) names — so an empty table still
    has columns, pre-ALTER files fill added columns with NULLs — then
    alias each stored name back to its declared name. The partition
    column rides along (``<designated>_pdate``; the designated ts is
    never renamable, so its stored name is its declared name)."""
    fields = ", ".join(
        f"{stored_name(c)} {c['spark_type']}" for c in meta["columns"]
    )
    pcol = meta["designated"] + PARTITION_SUFFIX
    df = spark.read.schema(f"{fields}, {pcol} date").parquet(path)
    if any(stored_name(c) != c["name"] for c in meta["columns"]):
        df = df.select(
            *[
                F.col(stored_name(c)).alias(c["name"])
                for c in meta["columns"]
            ],
            pcol,
        )
    return df


def to_stored_names(df: DataFrame, meta: dict | None) -> DataFrame:
    """Rename a declared-space batch to STORED names before it lands in
    parquet — the write-side half of the rename mapping (files keep one
    physical schema forever; only the declaration moves)."""
    if meta is None:
        return df
    mapping = {c["name"]: stored_name(c) for c in meta["columns"]}
    if all(mapping.get(c, c) == c for c in df.columns):
        return df
    # One-shot select, not sequential renames: a vacated declared name
    # can be another column's stored name (rename a→b then ADD COLUMN
    # a), and stepwise renames would collide mid-flight.
    return df.select(
        *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
    )


def _write_days(
    df: DataFrame,
    path: str,
    ts_col: str,
    mode: str,
    *,
    file_format: str = "parquet",
    one_file_per_day: bool = False,
) -> None:
    """Write ``df`` (which already carries ``<ts_col>_pdate``) in the
    designated-ts layout: one ``<ts_col>_pdate=YYYY-MM-DD`` directory per
    day, every file sorted by ``ts_col``. Every designated-table write in
    this module goes through here.

    The sort key MUST lead with the partition column: FileFormatWriter
    requires task rows ordered by partition columns and injects its own
    (ts-order-destroying) sort when the incoming ordering doesn't
    already satisfy that prefix. (pcol, ts) satisfies it AND yields
    time-ordered files.

    ``mode`` is a Spark save mode, or ``"replace_days"``: overwrite only
    the day directories ``df`` holds (dynamic partition overwrite). The
    overwrite mode is an option of this one writer, never the session
    conf, so concurrent writers in the session keep their own.
    ``one_file_per_day`` first shuffles on the day, so each directory's
    rows meet in one task and land as exactly one file.
    """
    pcol = ts_col + PARTITION_SUFFIX
    if one_file_per_day:
        df = df.repartition(F.col(pcol))
    writer = df.sortWithinPartitions(pcol, ts_col).write
    if mode == "replace_days":
        writer = writer.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        )
    else:
        writer = writer.mode(mode)
    writer.partitionBy(pcol).format(file_format).save(path)


def write_designated_ts(
    df: DataFrame,
    path: str,
    ts_col: str,
    mode: str = "append",
    file_format: str = "parquet",
    ttl_days: int | None = None,
) -> str:
    """Write ``df`` as a designated-timestamp table at ``path``.

    Returns the partition column name. ``append`` mode mirrors the
    reference's accumulate-hourly-batches model (reference README.md:373).
    ``file_format`` is any columnar source with file-level stats —
    parquet (default) or orc; the convention (date partition dirs +
    in-file time order + min/max pruning) is format-agnostic.

    ``ttl_days`` is QuestDB's evaluate-on-ingest ``SET TTL`` semantics
    wired into the write path: after the write commits, every partition
    older than ``ttl_days`` before the table's NEWEST partition is
    dropped (:func:`enforce_ttl` with ``as_of`` = the newest partition
    date — the table's most recent timestamp at day granularity, read
    from the directory listing, no scan). Enforcement is post-commit
    and idempotent, so a crash between write and enforcement just
    leaves expired partitions for the next ingest to drop — rows age
    out continuously as successive ingests advance the newest
    partition, matching QuestDB's lifecycle rather than a one-shot
    statement-time enforcement.
    """
    pcol = ts_col + PARTITION_SUFFIX
    _write_days(
        df.withColumn(pcol, F.to_date(F.col(ts_col))),
        path, ts_col, mode, file_format=file_format,
    )
    if ttl_days is not None:
        spark = df.sparkSession
        existing = list_partitions(spark, path, ts_col)
        if existing:
            enforce_ttl(spark, path, ts_col, ttl_days, existing[-1])
    return pcol


def infer_designated_ts(columns: list[str]) -> str | None:
    """Recover the designated-timestamp column from the storage
    convention: a ``<col>_pdate`` partition column alongside ``<col>``
    marks ``<col>`` as designated (QuestDB keeps this in table metadata,
    reference sql/create-table.sql:1; this engine keeps it in the
    layout). Returns None when the table doesn't follow the convention
    or is ambiguous (two designated candidates)."""
    hits = [
        c[: -len(PARTITION_SUFFIX)]
        for c in columns
        if c.endswith(PARTITION_SUFFIX) and c[: -len(PARTITION_SUFFIX)] in columns
    ]
    return hits[0] if len(hits) == 1 else None


def register_designated_table(
    spark: SparkSession,
    name: str,
    path: str,
    file_format: str = "parquet",
) -> DataFrame:
    """Register a designated-ts table written by
    :func:`write_designated_ts` as a temp view. The partition column
    travels with the view, so :func:`infer_designated_ts` (and the
    QuestDB SQL dialect) recover the designated timestamp without
    caller plumbing.

    Declared-schema tables (a ``_qdb_table_meta.json`` sidecar from a
    bare column-list CREATE) read with the DECLARED schema instead of
    footer inference: an empty or truncated table still registers with
    its columns, and a column added by ``ALTER TABLE … ADD COLUMN``
    comes back as NULL for rows written before the widening — parquet
    fills explicit-schema columns absent from a file with NULLs. A
    column moved by ``ALTER TABLE … RENAME COLUMN`` reads its stored
    (physical) name and comes back under the declared one.

    A table with pending merge-on-read deltas (``.updates/``) registers
    as its MERGED face automatically — a plain read of a delta-bearing
    table would silently return stale base rows, so every read path
    resolves through the deltas until VACUUM folds them."""
    meta = read_table_meta(spark, path)
    if file_format == "parquet" and pending_update_seqs(spark, path):
        ts = (meta or {}).get("designated") or infer_designated_ts(
            spark.read.parquet(path).columns
        )
        if ts is not None:
            df = read_designated_merged(spark, path, ts)
            df.createOrReplaceTempView(name)
            return df
    if meta is not None and file_format == "parquet":
        df = read_declared(spark, path, meta)
    else:
        df = spark.read.format(file_format).load(path)
    df.createOrReplaceTempView(name)
    return df


def compact_designated(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    ts_col: str,
) -> None:
    """Rewrite a designated-ts table with one time-sorted file per
    partition directory.

    The hourly-append model (reference README.md:373) leaves one small
    file per micro-batch per day — at 100 TB that's the classic
    small-files problem: scan parallelism collapses into file-open
    overhead and footer reads dominate. Compaction restores the storage
    convention's contract (few large, time-sorted files with tight
    row-group stats).

    Plan: one shuffle hashed on the partition date, so each directory
    is rewritten as exactly one time-sorted file. Writes to
    ``dst_path`` (never in-place: Spark cannot safely overwrite a path
    it is reading; callers atomically swap directories, as
    :func:`vacuum_designated` does).
    """
    _write_days(
        spark.read.parquet(src_path), dst_path, ts_col, "error",
        one_file_per_day=True,
    )


def update_from_designated_ts(
    spark: SparkSession,
    path: str,
    ts_col: str,
    target_alias: str,
    src: DataFrame,
    src_alias: str,
    assignments: list[tuple[str, str]],
    where: str,
) -> list[str]:
    """QuestDB ``UPDATE t [ta] SET col = expr, … FROM src [sa] WHERE
    join-pred`` — the join-update DML — as a partition-scoped merge.

    Same scale shape as :func:`update_designated_ts`: an inner join
    finds the date partitions holding matched rows (collects DATES,
    never data), only those partitions are read in full, LEFT JOINed to
    the source on the predicate, rewritten with ``CASE WHEN matched
    THEN expr ELSE old END`` per assigned column, and dynamically
    overwritten. Expressions and the predicate address columns through
    the aliases (``ta.col`` / ``sa.col``; unqualified names resolve if
    unambiguous, Spark's resolution rules).

    A target row matching MORE THAN ONE source row is ambiguous — which
    match wins would be arrival-order luck — so it raises instead of
    guessing (detected by comparing the joined row count against the
    touched-slice count; both are day-sized by contract). The
    designated timestamp is not assignable, matching
    :func:`update_designated_ts`. Returns the partition dates
    rewritten."""
    assert_no_pending_updates(spark, path, "UPDATE ... FROM")
    pcol = ts_col + PARTITION_SUFFIX
    meta = read_table_meta(spark, path)
    if meta is not None:
        existing = read_declared(spark, path, meta)
        declared_types = {
            c["name"]: c["spark_type"] for c in meta["columns"]
        }
    else:
        existing = spark.read.parquet(path)
        declared_types = {
            f.name: f.dataType.simpleString() for f in existing.schema.fields
        }
    for col, _ in assignments:
        if col == ts_col:
            raise ValueError(
                f"UPDATE cannot assign the designated timestamp "
                f"{ts_col!r} (QuestDB refuses; it also keys the "
                "partition layout here)"
            )
        if col not in declared_types or col == pcol:
            raise ValueError(
                f"UPDATE target column {col!r} does not exist "
                f"(columns: {[c for c in existing.columns if c != pcol]})"
            )
    target_cols = [c for c in existing.columns if c != pcol]
    tgt = existing.alias(target_alias)
    # The source carries a match marker so the LEFT JOIN can
    # distinguish "no match" (old value) from matched NULL columns.
    marked = src.withColumn("__qdb_matched", F.lit(1)).alias(src_alias)
    pred = F.expr(where)
    dates = [
        r[0]
        for r in tgt.join(marked, pred, "inner")
        .select(F.col(f"{target_alias}.{pcol}"))
        .distinct()
        .collect()
    ]
    if not dates:
        return []
    # ONE read of the touched days (round-15: the ambiguity detection
    # rides the rewrite join instead of two extra counts). Each touched
    # row gets a per-row id BELOW the join (nondeterministic, so the
    # optimizer cannot move it above); the joined frame — projection
    # already applied — is checkpointed in a single pass over the
    # touched partitions, and both the ambiguity check and the write
    # run over that materialization, never re-reading the parquet. At
    # one bad 100 GB day this is one day-scan, not four.
    touched = tgt.where(
        F.col(f"{target_alias}.{pcol}").isin(dates)
    ).withColumn("__qdb_rid", F.monotonically_increasing_id())
    joined = touched.join(marked, pred, "left")
    assigned = dict(assignments)
    matched = F.col(f"{src_alias}.__qdb_matched").isNotNull()
    updated = joined.select(
        *[
            (
                F.when(matched, F.expr(assigned[c]).cast(declared_types[c]))
                .otherwise(F.col(f"{target_alias}.{c}"))
                .alias(c)
                if c in assigned
                else F.col(f"{target_alias}.{c}").alias(c)
            )
            for c in target_cols
        ],
        F.col(f"{target_alias}.{pcol}").alias(pcol),
        F.col("__qdb_rid"),
    )
    ck = updated.localCheckpoint(eager=True)
    # A target row matching more than one source row appears under a
    # duplicated rid — which match wins would be arrival-order luck, so
    # it raises BEFORE any write (both aggregates run on the cached
    # checkpoint; the table is untouched).
    n_joined = ck.count()
    n_touched = ck.select("__qdb_rid").distinct().count()
    if n_joined > n_touched:
        raise ValueError(
            f"UPDATE … FROM is ambiguous: {n_joined - n_touched} "
            "target row(s) match more than one source row — "
            "deduplicate the source on the join key first"
        )
    _write_days(
        to_stored_names(ck.drop("__qdb_rid"), meta), path, ts_col,
        "replace_days",
    )
    return sorted(str(d) for d in dates)


def _swap_in_place(spark, path: str, tmp_suffix: str = ".__vacuum"):
    """The in-place rewrite commit shared by :func:`vacuum_designated`
    and :func:`alter_column_type`: returns ``(tmp_path, commit_fn)``.
    The caller writes the rewritten table (data + sidecar) at
    ``tmp_path``, then calls ``commit_fn(carry_detached=...)`` — live
    moves to ``<path>.__old``, the rewrite takes its place, detached
    partitions optionally carry over, the old tree is deleted.
    Leftover temp/old dirs from a crashed previous attempt raise with
    a recovery hint before any work.

    **Reader-visible gap (single-writer contract):** between the two
    renames the table path does not exist — a concurrent reader sees a
    missing table, and a crash in the gap leaves the live tree at
    ``<path>.__old`` with the rewrite still at the temp sibling.
    Recovery is one rename back (the leftover guard on the NEXT
    attempt raises with that hint; nothing is lost — both trees are
    intact). VACUUM/ALTER COLUMN TYPE are therefore maintenance
    statements: run them when no reader races the table, exactly like
    QuestDB's checkpoint-style maintenance. The contract is stated in
    DEPLOY.md and exercised by
    ``tests/test_dialect.py::test_swap_gap_recovery_contract``."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    tmp = jvm.org.apache.hadoop.fs.Path(path + tmp_suffix)
    old = jvm.org.apache.hadoop.fs.Path(path + ".__old")
    for leftover in (tmp, old):
        if fs.exists(leftover):
            raise IOError(
                f"{leftover} exists — a previous rewrite crashed "
                "mid-swap; recover it (rename back or delete) first"
            )

    def commit(carry_detached: bool = True) -> None:
        if not fs.rename(hpath, old):
            raise IOError(f"could not move {path} aside to {old}")
        if not fs.rename(tmp, hpath):
            raise IOError(
                f"could not move {tmp} into place — live table is at "
                f"{old}"
            )
        if carry_detached:
            detached = jvm.org.apache.hadoop.fs.Path(
                f"{old}/{DETACHED_DIR}"
            )
            if fs.exists(detached):
                carry_dst = jvm.org.apache.hadoop.fs.Path(
                    f"{path}/{DETACHED_DIR}"
                )
                # Hadoop FileSystem.rename reports failure by returning
                # false (dest exists, parent missing, …) — an unchecked
                # carry followed by delete(old) would silently and
                # PERMANENTLY drop every detached partition.
                if not fs.rename(detached, carry_dst):
                    raise IOError(
                        f"could not carry detached partitions {detached}"
                        f" to {carry_dst} — old tree left intact at "
                        f"{old}; recover the detached partitions from "
                        "there before retrying"
                    )
        fs.delete(old, True)

    return str(tmp), commit


def alter_column_type(
    spark: SparkSession,
    path: str,
    col: str,
    new_spark_type: str,
    new_qdb_type: str,
) -> list[str]:
    """QuestDB ``ALTER TABLE t ALTER COLUMN c TYPE <T>`` — a DATA
    REWRITE, stated plainly: unlike RENAME COLUMN (declaration-only),
    a type change must rewrite every partition's files so the parquet
    physical type matches the declaration (QuestDB likewise writes new
    column versions). The rewrite is the vacuum machinery: read the
    DECLARED schema, cast the column (Spark cast semantics — lossy
    narrowing is the caller's explicit choice, as upstream), land
    stored names into a temp sibling with the updated sidecar, swap.
    Compaction rides along for free (one time-sorted file per
    partition afterwards).

    Refused: the designated timestamp (it keys the layout and must
    stay TIMESTAMP), unknown columns, unknown target types, and tables
    with DETACHED partitions — their files would keep the old physical
    type and fail every read after ATTACH; attach or drop them first.
    Returns the partition dates rewritten.
    """
    assert_no_pending_updates(spark, path, "ALTER COLUMN TYPE")
    meta = read_table_meta(spark, path)
    if meta is None:
        raise ValueError(
            "ALTER COLUMN TYPE needs the declared-schema sidecar "
            "(materialize it first — questdb_ddl does this implicitly)"
        )
    ts_col = meta["designated"]
    names = [c["name"] for c in meta["columns"]]
    if col not in names:
        raise ValueError(
            f"column {col!r} does not exist (columns: {names})"
        )
    if col == ts_col:
        raise ValueError(
            f"cannot change the type of the designated timestamp "
            f"{col!r}"
        )
    if list_detached_partitions(spark, path, ts_col):
        raise ValueError(
            "cannot ALTER COLUMN TYPE with detached partitions: their "
            "files would keep the old physical type and fail after "
            "ATTACH — attach or drop them first"
        )
    dates = list_partitions(spark, path, ts_col)
    tmp, commit = _swap_in_place(spark, path, tmp_suffix=".__retype")
    new_cols = [
        (n, new_spark_type if n == col else st, new_qdb_type
         if n == col else qt, stored)
        for n, st, qt, stored in meta_column_tuples(meta)
    ]
    if dates:
        df = read_declared(spark, path, meta).withColumn(
            col, F.col(col).cast(new_spark_type)
        )
        _write_days(
            to_stored_names(df, meta), tmp, ts_col, "error",
            one_file_per_day=True,
        )
    write_table_meta(
        spark, tmp, new_cols, ts_col, dedup_keys=meta.get("dedup_keys")
    )
    commit(carry_detached=False)
    return dates


def vacuum_designated(
    spark: SparkSession,
    path: str,
    ts_col: str,
) -> list[str]:
    """QuestDB ``VACUUM TABLE`` twin: reclaim the storage debt of the
    hourly-append model by compacting every partition directory to one
    time-sorted file, IN PLACE (QuestDB's VACUUM reclaims superseded
    column versions; this engine's equivalent debt is micro-batch small
    files — at 100 TB they collapse scan parallelism into file-open
    overhead).

    Sequence: the table is rewritten one file per day, as
    :func:`compact_designated` does, into a temp sibling
    (``<path>.__vacuum``) — the read is entirely consumed before any
    swap, so Spark never overwrites what it is reading — then the
    declared-schema sidecar is copied in, the live directory moves to
    ``<path>.__old``, the compacted one takes its place, detached
    partitions (``.detached/``, invisible to the compaction read) are
    carried over, and the old tree is deleted. Single-writer by
    contract, like all DDL here; a crash between the two renames leaves
    ``<path>.__old`` + ``<path>.__vacuum`` on disk and no live table —
    recovery is one rename back, and the temp names make the state
    obvious. Returns the partition dates compacted (``[]`` for an
    empty table — nothing to vacuum)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    dates = list_partitions(spark, path, ts_col)
    if not dates:
        return []
    tmp, commit = _swap_in_place(spark, path, tmp_suffix=".__vacuum")
    meta = read_table_meta(spark, path)
    if pending_update_seqs(spark, path):
        # Merge-on-read fold: compact THROUGH the delta face, so the
        # vacuumed tree holds the post-update rows and the .updates
        # sidecar dies with the old tree — VACUUM is the compaction
        # the MoR face defers to (QuestDB's column-version reclaim,
        # same statement).
        df = read_designated_merged(spark, path, ts_col)
    elif meta is not None:
        # Declared table: compact through the DECLARED schema, not
        # footer inference — a column ADDed after early files were
        # written is absent from those footers, and an inference that
        # sampled an old footer would silently drop it from the
        # compacted output.
        df = read_declared(spark, path, meta)
    else:
        df = spark.read.parquet(path)
    # Stored names land back in the files (a no-op without a sidecar).
    _write_days(
        to_stored_names(df, meta), tmp, ts_col, "error",
        one_file_per_day=True,
    )
    meta_src = jvm.org.apache.hadoop.fs.Path(f"{path}/{TABLE_META_FILE}")
    if fs.exists(meta_src):
        futil = jvm.org.apache.hadoop.fs.FileUtil
        futil.copy(
            fs, meta_src,
            fs, jvm.org.apache.hadoop.fs.Path(f"{tmp}/{TABLE_META_FILE}"),
            False, spark._jsc.hadoopConfiguration(),
        )
    commit(carry_detached=True)
    return dates


def read_designated_ts(
    spark: SparkSession,
    path: str,
    ts_col: str,
    start: _dt.datetime | str | None = None,
    end: _dt.datetime | str | None = None,
    file_format: str = "parquet",
) -> DataFrame:
    """Read a designated-ts table, pruning partitions for a time range.

    ``start``/``end`` bound ``ts_col`` (half-open ``[start, end)``). The
    equivalent date predicate on the partition column is added so pruning
    is static (visible as ``PartitionFilters`` in the physical plan).
    """
    pcol = ts_col + PARTITION_SUFFIX
    df = spark.read.format(file_format).load(path)
    if start is not None:
        df = df.filter(
            (F.col(ts_col) >= F.lit(start))
            & (F.col(pcol) >= F.to_date(F.lit(start)))
        )
    if end is not None:
        df = df.filter(
            (F.col(ts_col) < F.lit(end)) & (F.col(pcol) <= F.to_date(F.lit(end)))
        )
    return df.drop(pcol)


def dedup_within_batch(
    batch: DataFrame, ts_col: str, keys: list[str]
) -> DataFrame:
    """Within-batch ``(ts, keys)`` duplicates resolve to the max over
    the value columns — dedup applies on EVERY insert, including into
    an empty table (content-deterministic: Spark DataFrames have no
    arrival order to honor, so the tiebreak must be a pure function of
    the data). Shared by :func:`upsert_designated_ts` and the dialect's
    declared DEDUP UPSERT KEYS insert path."""
    vcols = [c for c in batch.columns if c not in (*keys, ts_col)]
    if not vcols:
        return batch.dropDuplicates([ts_col, *keys])
    return (
        batch.groupBy(ts_col, *keys)
        .agg(F.max(F.struct(*[F.col(c) for c in vcols])).alias("__w"))
        .select(ts_col, *keys, *[f"__w.{c}" for c in vcols])
        .select(*batch.columns)
    )


def upsert_designated_ts(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    ts_col: str,
    keys: list[str],
) -> str:
    """Deduplicating upsert into a designated-ts table: rows matching an
    existing (ts, keys) replace it, others append — QuestDB's
    ``DEDUP UPSERT KEYS`` semantics (reference README.md:70-71 table
    family) as a partition-scoped merge.

    Scale shape: only the date partitions the batch touches are read
    (static pruning on the partition column) and only those are rewritten
    (dynamic partition overwrite) — a day-sized merge against a 100 TB
    table moves day-sized data. One shuffle resolves winners: batch rows
    beat stored rows; duplicate (ts, keys) *within* the batch resolve by
    max over the remaining columns (content-deterministic — Spark
    DataFrames have no arrival order to honor, so the tiebreak must be a
    pure function of the data).

    The merged slice is ``localCheckpoint``-materialized before the write
    because Spark cannot overwrite partitions it is concurrently reading;
    the checkpoint truncates lineage off the source files first.
    """
    assert_no_pending_updates(spark, path, "DEDUP upsert")
    pcol = ts_col + PARTITION_SUFFIX
    batchd = batch.withColumn(pcol, F.to_date(F.col(ts_col)))

    def dedup_batch(b: DataFrame) -> DataFrame:
        return dedup_within_batch(b, ts_col, keys)

    from questdb_etl_jobs_spark.sources.fs import hadoop_path_exists

    if not hadoop_path_exists(spark, path):
        # First write: no table yet. Only a provably-absent path takes
        # the initialize branch — a transient storage error or corrupt
        # footer on an EXISTING table must raise, never be mistaken for
        # first-write (that would drop the history on the next step's
        # dynamic overwrite).
        return write_designated_ts(dedup_batch(batch), path, ts_col)
    meta = read_table_meta(spark, path)
    if meta is not None:
        # Declared-schema table: read with the declaration so files
        # written before an ALTER … ADD COLUMN merge with NULLs instead
        # of whichever footer inference happens to pick; renamed
        # columns come back under their declared names.
        existing = read_declared(spark, path, meta)
    else:
        existing = spark.read.parquet(path)

    dates = [r[0] for r in batchd.select(pcol).distinct().collect()]
    cols = [c for c in existing.columns]
    value_cols = [c for c in cols if c not in (*keys, ts_col, pcol)]
    touched = existing.where(F.col(pcol).isin(dates))
    tagged = touched.select(*cols).withColumn(
        "__src", F.lit(0)
    ).unionByName(batchd.select(*cols).withColumn("__src", F.lit(1)))
    winner = F.max(
        F.struct(F.col("__src"), *[F.col(c) for c in value_cols])
    ).alias("__w")
    merged = (
        tagged.groupBy(ts_col, *keys, pcol)
        .agg(winner)
        .select(ts_col, *keys, pcol, *[f"__w.{c}" for c in value_cols])
        .select(*cols)  # restore original column order
    )
    _write_days(
        to_stored_names(merged.localCheckpoint(eager=True), meta),
        path, ts_col, "replace_days",
    )
    return pcol


def list_partitions(spark: SparkSession, path: str, ts_col: str) -> list[str]:
    """Sorted partition dates (``YYYY-MM-DD``) of a designated-ts table.

    A directory listing through the Hadoop FileSystem that owns ``path``
    (local in tests, hdfs/s3a/gs/abfs on a cluster) — never a data scan.

    A missing or not-yet-written table is an EMPTY table here, not an
    error: retention (``drop_partitions`` / ``enforce_ttl``) is
    idempotent by contract, so re-running it after every partition was
    dropped — or before the first write landed — must be a no-op, not a
    raw ``FileNotFoundException`` out of py4j.
    """
    pcol = ts_col + PARTITION_SUFFIX
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    prefix = pcol + "="
    out = []
    for status in fs.listStatus(hpath):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith(prefix):
            out.append(name[len(prefix):])
    return sorted(out)


def drop_partitions(
    spark: SparkSession,
    path: str,
    ts_col: str,
    older_than: _dt.datetime | _dt.date | str | None = None,
    partition_list: list[str] | None = None,
) -> list[str]:
    """QuestDB ``ALTER TABLE … DROP PARTITION`` twin (reference
    sql/create-table.sql:1 table family; QuestDB drops by partition
    timestamp with ``WHERE timestamp < …`` or ``LIST '…', …``).

    Retention on a designated-ts table is a FILESYSTEM operation: whole
    date partition directories are deleted, surviving partitions are
    never read, rewritten, or even listed into a plan — at 100 TB,
    expiring a month is 30 directory deletes, not a table rewrite. This
    is the deletion face of the convention's pruning guarantee.

    ``older_than`` drops partitions at DAY granularity: a directory is
    dropped iff its whole day lies strictly before the cutoff, so a
    cutoff with a time-of-day KEEPS the partially-covered day. This is
    a deliberate, conservative DIVERGENCE from QuestDB, which evaluates
    the WHERE predicate against the partition timestamp (the
    partition's start) and therefore drops the partial day too
    (``ts < '2024-01-05T06:00'`` drops the 2024-01-05 partition
    upstream, keeps it here — this engine never deletes rows the
    predicate doesn't cover). A port from QuestDB retains one extra
    day per mid-day cutoff; floor the cutoff to the partition start to
    reproduce upstream behavior exactly. ``partition_list``
    is the explicit ``LIST`` form (``YYYY-MM-DD`` strings; missing dirs
    are ignored — the operation is idempotent by construction, safe to
    re-run after a partial failure).

    Deletes are recursive per-directory and sequential; a crash mid-way
    leaves a prefix of the requested drops applied, and the re-run
    completes the rest (each delete is independent — there is no
    cross-partition invariant to fence). Returns the dates actually
    dropped.
    """
    assert_no_pending_updates(spark, path, "DROP PARTITION")
    if (older_than is None) == (partition_list is None):
        raise ValueError("exactly one of older_than/partition_list required")
    existing = list_partitions(spark, path, ts_col)
    if older_than is not None:
        if isinstance(older_than, str):
            cutoff = _dt.datetime.fromisoformat(older_than)
        else:
            cutoff = older_than
        if isinstance(cutoff, _dt.datetime):
            cutoff_date = cutoff.date()
        else:
            cutoff_date = cutoff
        victims = [d for d in existing if _dt.date.fromisoformat(d) < cutoff_date]
    else:
        want = set(partition_list)
        victims = [d for d in existing if d in want]
    pcol = ts_col + PARTITION_SUFFIX
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    dropped = []
    for d in victims:
        if fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/{pcol}={d}"), True):
            dropped.append(d)
    return dropped


#: Where detached partitions live inside the table directory. The
#: leading dot keeps Spark's file index from listing them — a detached
#: partition is invisible to every read until re-attached, exactly
#: QuestDB's semantics (QuestDB renames the partition dir to
#: ``<name>.detached`` in place; same idea, one hidden subdir here so
#: the live directory listing stays flat).
DETACHED_DIR = ".detached"


def detach_partitions(
    spark: SparkSession,
    path: str,
    ts_col: str,
    dates: list[str],
) -> list[str]:
    """QuestDB ``ALTER TABLE … DETACH PARTITION LIST`` twin: move each
    named date partition directory under ``<path>/.detached/`` — a pure
    filesystem rename, no data read or rewritten (at 100 TB, detaching
    a month is 30 directory moves). Detached partitions vanish from
    every query (dot-dirs are invisible to Spark's file listing) but
    keep their files byte-identical for :func:`attach_partitions`.

    A named partition that does not exist raises (QuestDB errors on
    detaching a missing partition); one already detached under the same
    date also raises rather than silently merging two directory trees.
    The ENTIRE date list is validated before any rename, so a raised
    error implies no partition moved — the statement is all-or-nothing
    at the validation level (a bad entry late in the LIST does not
    leave earlier dates already detached).
    Returns the dates moved, in sorted order.
    """
    assert_no_pending_updates(spark, path, "DETACH PARTITION")
    pcol = ts_col + PARTITION_SUFFIX
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    existing = set(list_partitions(spark, path, ts_col))
    plan = []
    for d in sorted(set(dates)):
        if d not in existing:
            raise ValueError(
                f"cannot detach partition {d!r}: not present "
                f"(partitions: {sorted(existing)})"
            )
        src = jvm.org.apache.hadoop.fs.Path(f"{path}/{pcol}={d}")
        dst = jvm.org.apache.hadoop.fs.Path(
            f"{path}/{DETACHED_DIR}/{pcol}={d}"
        )
        if fs.exists(dst):
            raise ValueError(
                f"partition {d!r} is already detached at {dst}"
            )
        plan.append((d, src, dst))
    moved = []
    for d, src, dst in plan:
        fs.mkdirs(dst.getParent())
        if not fs.rename(src, dst):
            raise IOError(f"could not detach {src} to {dst}")
        moved.append(d)
    return moved


def attach_partitions(
    spark: SparkSession,
    path: str,
    ts_col: str,
    dates: list[str],
) -> list[str]:
    """QuestDB ``ALTER TABLE … ATTACH PARTITION LIST`` twin: move each
    named date partition back out of ``<path>/.detached/`` into the
    live table — the reverse filesystem rename of
    :func:`detach_partitions`. A date with no detached directory
    raises; a live partition already holding that date raises (the two
    trees must not merge). The whole date list is validated before any
    rename — a raised error implies no partition moved, mirroring
    :func:`detach_partitions`. Returns the dates attached, sorted."""
    pcol = ts_col + PARTITION_SUFFIX
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    live = set(list_partitions(spark, path, ts_col))
    plan = []
    for d in sorted(set(dates)):
        src = jvm.org.apache.hadoop.fs.Path(
            f"{path}/{DETACHED_DIR}/{pcol}={d}"
        )
        if not fs.exists(src):
            raise ValueError(
                f"cannot attach partition {d!r}: nothing detached at {src}"
            )
        if d in live:
            raise ValueError(
                f"cannot attach partition {d!r}: a live partition "
                "already holds that date"
            )
        dst = jvm.org.apache.hadoop.fs.Path(f"{path}/{pcol}={d}")
        plan.append((d, src, dst))
    moved = []
    for d, src, dst in plan:
        if not fs.rename(src, dst):
            raise IOError(f"could not attach {src} to {dst}")
        moved.append(d)
    return moved


def list_detached_partitions(
    spark: SparkSession, path: str, ts_col: str
) -> list[str]:
    """Sorted dates currently sitting under ``<path>/.detached/`` — the
    catalog face of the detach/attach pair (SHOW PARTITIONS marks
    detached partitions in QuestDB)."""
    pcol = ts_col + PARTITION_SUFFIX
    jvm = spark._jvm
    dpath = jvm.org.apache.hadoop.fs.Path(f"{path}/{DETACHED_DIR}")
    fs = dpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(dpath):
        return []
    prefix = pcol + "="
    out = []
    for status in fs.listStatus(dpath):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith(prefix):
            out.append(name[len(prefix):])
    return sorted(out)


def update_designated_ts(
    spark: SparkSession,
    path: str,
    ts_col: str,
    assignments: list[tuple[str, str]],
    where: str | None = None,
) -> list[str]:
    """QuestDB ``UPDATE t SET col = expr, … [WHERE pred]`` as a
    partition-scoped conditional rewrite.

    Scale shape (the same discipline as :func:`upsert_designated_ts`):
    one narrow pass finds the date partitions holding matching rows
    (predicate columns only — partition/rowgroup pruning applies when
    the WHERE bounds the designated ts, so an interval-scoped UPDATE
    touches an interval-sized scan), then ONLY those partitions are
    read in full, rewritten with ``CASE WHEN pred THEN expr ELSE old
    END`` per assigned column, and dynamically overwritten. Untouched
    partitions are never read, listed, or rewritten — at 100 TB an
    UPDATE over one bad day moves one day of data, QuestDB's
    column-version rewrite made a directory operation.

    ``assignments`` are (column, SQL expression) pairs evaluated in the
    table's declared column space; each result casts to the column's
    declared type (QuestDB casts assignment values to the column type).
    The designated timestamp is not assignable — QuestDB refuses
    UPDATEs of the designated timestamp, and here it additionally keys
    the physical layout. Rows where ``where`` evaluates NULL are
    untouched (SQL predicate semantics). Returns the partition dates
    rewritten (``[]`` when nothing matched).
    """
    assert_no_pending_updates(spark, path, "UPDATE (copy-on-write face)")
    pcol = ts_col + PARTITION_SUFFIX
    meta = read_table_meta(spark, path)
    if meta is not None:
        existing = read_declared(spark, path, meta)
        declared_types = {
            c["name"]: c["spark_type"] for c in meta["columns"]
        }
    else:
        existing = spark.read.parquet(path)
        declared_types = {
            f.name: f.dataType.simpleString() for f in existing.schema.fields
        }
    for col, _ in assignments:
        if col == ts_col:
            raise ValueError(
                f"UPDATE cannot assign the designated timestamp "
                f"{ts_col!r} (QuestDB refuses; it also keys the "
                "partition layout here)"
            )
        if col not in declared_types or col == pcol:
            raise ValueError(
                f"UPDATE target column {col!r} does not exist "
                f"(columns: {[c for c in existing.columns if c != pcol]})"
            )
    pred = F.expr(where) if where else F.lit(True)
    # Narrow pass: which date directories hold matching rows? Collects
    # DATES (bounded by the table's partition count), never data rows.
    dates = [
        r[0]
        for r in existing.where(pred).select(pcol).distinct().collect()
    ]
    if not dates:
        return []
    touched = existing.where(F.col(pcol).isin(dates))
    assigned = dict(assignments)
    updated = touched.select(
        *[
            (
                F.when(pred, F.expr(assigned[c]).cast(declared_types[c]))
                .otherwise(F.col(c))
                .alias(c)
                if c in assigned
                else F.col(c)
            )
            for c in existing.columns
            if c != pcol
        ],
        F.col(pcol),
    )
    # Spark cannot overwrite partitions it is concurrently reading:
    # materialize the rewritten slice first (day-sized by contract).
    _write_days(
        to_stored_names(updated.localCheckpoint(eager=True), meta),
        path, ts_col, "replace_days",
    )
    return sorted(str(d) for d in dates)


def enforce_ttl(
    spark: SparkSession,
    path: str,
    ts_col: str,
    ttl_days: int,
    as_of: _dt.datetime | _dt.date | str,
) -> list[str]:
    """QuestDB ``ALTER TABLE … SET TTL <n> DAYS`` enforcement twin: drop
    every partition whose whole day is older than ``ttl_days`` before
    ``as_of``. QuestDB evaluates TTL against the most recent timestamp
    on ingest; here the reference point is EXPLICIT — the caller passes
    the batch's max event time (or wall clock at the deployment edge) so
    the operation stays deterministic and replayable. Returns dropped
    dates."""
    if isinstance(as_of, str):
        as_of = _dt.datetime.fromisoformat(as_of)
    if isinstance(as_of, _dt.datetime):
        as_of = as_of.date()
    cutoff = as_of - _dt.timedelta(days=ttl_days)
    return drop_partitions(spark, path, ts_col, older_than=cutoff)


def show_partitions(spark: SparkSession, path: str, ts_col: str) -> DataFrame:
    """QuestDB ``SHOW PARTITIONS FROM <table>`` twin over a designated-ts
    table: one row per day partition with QuestDB's data-derivable
    columns — ``part_index`` (0-based position in timestamp order),
    ``partition_by`` (always ``'DAY'``: this engine's designated tables
    are day directories), ``name`` (``YYYY-MM-DD``), ``min_ts`` /
    ``max_ts`` (observed bounds — QuestDB's minTimestamp/maxTimestamp),
    ``num_rows``, and ``attached`` (false for partitions parked by
    :func:`detach_partitions` — QuestDB's SHOW PARTITIONS lists
    detached partitions too, and since round 14 the detach state IS
    data-derivable here: detached day directories live under the
    hidden ``.detached/`` subdir and are read explicitly for their
    bounds, a scan bounded by the detached count).

    Divergence, documented not hidden: QuestDB also reports storage
    facts (diskSize, readOnly…) straight from its catalog;
    those are filesystem attributes here, not query results, so they are
    out of this face. The column NAMES are also deliberately snake_cased
    (QuestDB spells them ``index``/``partitionBy``/``minTimestamp``/
    ``maxTimestamp``/``numRows``) — ``index`` collides with too many SQL
    surfaces to re-export verbatim, and one convention covers both
    catalog faces. The scan reads exactly two columns (the partition
    value rides on the directory name, the bounds need ``ts_col``), the
    per-partition aggregate partial-combines map-side, and the
    ``part_index`` window runs over the partition DIRECTORY (one row per
    day), never the data. A missing table is an empty listing — same
    idempotence contract as :func:`list_partitions`.
    """
    from pyspark.sql.window import Window

    from questdb_etl_jobs_spark.sources.fs import (
        hadoop_path_exists,
        holds_no_parquet,
    )

    pcol = ts_col + PARTITION_SUFFIX
    schema = (
        f"part_index int, partition_by string, name string, "
        f"min_ts timestamp, max_ts timestamp, num_rows bigint, "
        f"attached boolean"
    )
    if not hadoop_path_exists(spark, path):
        return spark.createDataFrame([], schema)

    def per_day(table, attached: bool):
        return (
            table
            .select(F.col(pcol), F.col(ts_col))
            .groupBy(pcol)
            .agg(
                F.min(ts_col).alias("min_ts"),
                F.max(ts_col).alias("max_ts"),
                F.count(F.lit(1)).alias("num_rows"),
            )
            .withColumn("attached", F.lit(attached))
        )

    try:
        days = per_day(spark.read.parquet(path), True)
    except Exception as exc:
        # Every partition dropped is an empty live listing; real read
        # errors re-raise.
        if not holds_no_parquet(exc):
            raise
        days = None
    if list_detached_partitions(spark, path, ts_col):
        # basePath keeps the <pcol>=… directory parsing while reading
        # under the hidden subdir Spark's live listing ignores.
        detached = per_day(
            spark.read.option(
                "basePath", f"{path}/{DETACHED_DIR}"
            ).parquet(f"{path}/{DETACHED_DIR}"),
            False,
        )
        days = detached if days is None else days.unionByName(detached)
    if days is None:
        return spark.createDataFrame([], schema)
    w = Window.orderBy(pcol)
    return days.select(
        (F.row_number().over(w) - 1).cast("int").alias("part_index"),
        F.lit("DAY").alias("partition_by"),
        F.date_format(F.col(pcol), "yyyy-MM-dd").alias("name"),
        "min_ts",
        "max_ts",
        "num_rows",
        "attached",
    ).orderBy("part_index")


#: Spark SQL type → QuestDB type name (the subset this engine's tables
#: use; QuestDB SHOW COLUMNS reports ITS type names, so the catalog
#: face maps rather than leaking Spark spellings).
_QUESTDB_TYPE = {
    "string": "STRING",
    "int": "INT",
    "bigint": "LONG",
    "double": "DOUBLE",
    "float": "FLOAT",
    "boolean": "BOOLEAN",
    "timestamp": "TIMESTAMP",
    "date": "DATE",
    "binary": "BINARY",
}


def show_columns(spark: SparkSession, path: str, ts_col: str | None = None
                 ) -> DataFrame:
    """QuestDB ``SHOW COLUMNS FROM <table>`` twin: one row per column
    with the QuestDB type name and the ``designated`` flag (QuestDB
    marks its designated timestamp in the column listing; here it is
    recovered from the ``<col>_pdate`` storage convention or passed
    explicitly). Column names are snake_cased vs QuestDB's
    ``column``/``type``/``designated`` — deliberate, matching
    :func:`show_partitions`' convention (only ``designated`` coincides). The partition bookkeeping column itself is layout, not
    schema, and is not listed. Array/map/struct columns report their
    Spark simpleString uppercased — QuestDB has no analogue and hiding
    them would misreport the table. Schema-only: reads parquet footers,
    never data."""
    table = spark.read.parquet(path)
    ts = ts_col or infer_designated_ts(table.columns)
    rows = []
    for f in table.schema.fields:
        if f.name.endswith(PARTITION_SUFFIX) and f.name[
            : -len(PARTITION_SUFFIX)
        ] in table.columns:
            continue
        simple = f.dataType.simpleString()
        rows.append(
            (
                f.name,
                _QUESTDB_TYPE.get(simple, simple.upper()),
                f.name == ts,
            )
        )
    return spark.createDataFrame(
        rows, "column_name string, column_type string, designated boolean"
    )


# ---------------------------------------------------------------------------
# Merge-on-read UPDATE face (round 15)
# ---------------------------------------------------------------------------
#
# The deployed UPDATE (update_designated_ts) is copy-on-write at day
# granularity: write amplification = day-size / matched-size. This face
# is the industry merge-on-read answer (deletion vector + delta rows,
# the shape QuestDB's own column versioning takes — the deployment the
# reference provisions versions column files rather than rewriting
# days, /root/reference/README.md:64-71): an UPDATE writes ONLY the
# matched rows (new values + the origin row identity) into a hidden
# ``.updates/delta_<seq>/`` sidecar; reads apply the deltas — origin
# rows masked by a broadcast anti-join scoped to the delta-bearing
# partitions, new versions unioned in; VACUUM folds everything back to
# a clean tree. Row identity is Spark's file-source ``_metadata``
# column (file_path, row_index) — stable until a rewrite, which is why
# every rewriting operation (COW UPDATE, UPDATE…FROM, ALTER COLUMN
# TYPE, dedup upsert, DROP/DETACH PARTITION) refuses while deltas are
# pending: fold first (VACUUM), then rewrite. Appends are safe — new
# files carry no deltas.
#
# Scale shape: UPDATE cost = one filter-pruned read of the matched
# slice + a matched-rows-sized write (vs the COW day rewrite); read
# cost until the next VACUUM = delta listing + a broadcast anti-join
# over ONLY the delta-bearing partitions. Whether that trade wins is a
# measured question (tools/sf1_differential.py --sf10-update-mor;
# SCALE_DIFF dq198_update_mor), not folklore.

UPDATES_DIR = ".updates"
_ID_FILE, _ID_POS, _ID_SEQ = "__qdb_src_file", "__qdb_src_pos", "__qdb_seq"


def pending_update_seqs(spark: SparkSession, path: str) -> list[int]:
    """Sorted sequence numbers of COMMITTED merge-on-read deltas under
    ``<path>/.updates/`` (a delta dir without its ``_SUCCESS`` marker is
    a crashed write — invisible to reads, superseded by seq allocation,
    reclaimed by VACUUM)."""
    jvm = spark._jvm
    upath = jvm.org.apache.hadoop.fs.Path(f"{path}/{UPDATES_DIR}")
    fs = upath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(upath):
        return []
    seqs = []
    for status in fs.listStatus(upath):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith("delta_"):
            try:
                seq = int(name[len("delta_"):])
            except ValueError:
                continue
            if fs.exists(
                jvm.org.apache.hadoop.fs.Path(
                    f"{path}/{UPDATES_DIR}/{name}/_SUCCESS"
                )
            ):
                seqs.append(seq)
    return sorted(seqs)


def _all_update_seqs(spark: SparkSession, path: str) -> list[int]:
    """Every allocated delta seq, committed or crashed — the allocator
    must never reuse a crashed write's number."""
    jvm = spark._jvm
    upath = jvm.org.apache.hadoop.fs.Path(f"{path}/{UPDATES_DIR}")
    fs = upath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(upath):
        return []
    out = []
    for status in fs.listStatus(upath):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith("delta_"):
            try:
                out.append(int(name[len("delta_"):]))
            except ValueError:
                continue
    return sorted(out)


def assert_no_pending_updates(
    spark: SparkSession, path: str, op: str
) -> None:
    """Rewriting operations refuse while merge-on-read deltas are
    pending: a rewrite changes file paths, and the deltas key their
    origin rows by (file, row) — folding first (VACUUM TABLE) is the
    contract, dangling deltas are never silently dropped."""
    seqs = pending_update_seqs(spark, path)
    if seqs:
        raise ValueError(
            f"{op} refuses: {len(seqs)} pending merge-on-read delta(s) "
            f"under {path}/{UPDATES_DIR} key rows by (file, row) and a "
            "rewrite would orphan them — run VACUUM TABLE to fold the "
            "deltas first"
        )


def _base_with_identity(
    spark: SparkSession, path: str, ts_col: str
) -> DataFrame:
    """The base table in declared column space plus the file-source row
    identity (``_metadata.file_path``, ``_metadata.row_index``) — read
    in the SAME scan projection, no extra pass."""
    pcol = ts_col + PARTITION_SUFFIX
    meta = read_table_meta(spark, path)
    if meta is not None:
        fields = ", ".join(
            f"{stored_name(c)} {c['spark_type']}" for c in meta["columns"]
        )
        df = spark.read.schema(f"{fields}, {pcol} date").parquet(path)
        sel = [
            F.col(stored_name(c)).alias(c["name"]) for c in meta["columns"]
        ]
    else:
        df = spark.read.parquet(path)
        sel = [F.col(c) for c in df.columns if c != pcol]
    return df.select(
        *sel,
        F.col(pcol),
        F.col("_metadata.file_path").alias(_ID_FILE),
        F.col("_metadata.row_index").alias(_ID_POS),
    )


def _deltas_latest(
    spark: SparkSession, path: str, ts_col: str
) -> DataFrame | None:
    """Latest committed delta version per origin row, in declared column
    space, materialized once (deltas are matched-rows-sized by
    construction; pinning them here keeps the merge plan from re-running
    the versioning window per action)."""
    from pyspark.sql import Window

    seqs = pending_update_seqs(spark, path)
    if not seqs:
        return None
    pcol = ts_col + PARTITION_SUFFIX
    meta = read_table_meta(spark, path)
    if meta is not None:
        cols = meta_column_tuples(meta)
        fields = ", ".join(f"{s} {t}" for _, t, _, s in cols)
        schema = (
            f"{fields}, {pcol} date, {_ID_FILE} string, "
            f"{_ID_POS} long, {_ID_SEQ} int"
        )
        reader = spark.read.schema(schema)
        sel = [F.col(s).alias(n) for n, _, _, s in cols]
    else:
        reader = spark.read
        sel = None
    df = reader.parquet(
        *[f"{path}/{UPDATES_DIR}/delta_{s}" for s in seqs]
    )
    if sel is not None:
        df = df.select(*sel, pcol, _ID_FILE, _ID_POS, _ID_SEQ)
    w = Window.partitionBy(_ID_FILE, _ID_POS).orderBy(F.desc(_ID_SEQ))
    latest = (
        df.withColumn("__qdb_rn", F.row_number().over(w))
        .filter(F.col("__qdb_rn") == 1)
        .drop("__qdb_rn", _ID_SEQ)
    )
    return latest.localCheckpoint(eager=True)


def _tombstone_ids(latest: DataFrame) -> DataFrame:
    """The (file, pos) tombstone side of the merge anti-join, with the
    measured broadcast decision from ``operators/topk.py:316``: the
    delta set is matched-rows-sized by construction, but nothing bounds
    matched rows — a non-selective MoR UPDATE (WHERE matching half the
    table) would otherwise broadcast a half-table id list to every
    executor on EVERY read until the fold (round-16 ADVICE). ``latest``
    is already localCheckpoint'ed, so the one-pass stats job reads the
    materialized partitions, never the delta files again. Within the
    row AND byte caps the ids broadcast; past either cap the anti-join
    pins SHUFFLE_MERGE — both sides exchange on (file, pos), slower but
    never an executor-memory cliff."""
    from questdb_etl_jobs_spark.operators.topk import (
        BROADCAST_DIRECTORY_MAX_BYTES,
        BROADCAST_GROUP_CAP,
    )

    ids = latest.select(_ID_FILE, _ID_POS)
    stats = latest.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.length(_ID_FILE)), F.lit(0)).alias("pb"),
    ).collect()[0]
    approx_bytes = int(stats.pb) + 24 * int(stats.n)  # pos + row overhead
    if (
        stats.n <= BROADCAST_GROUP_CAP
        and approx_bytes <= BROADCAST_DIRECTORY_MAX_BYTES
    ):
        return F.broadcast(ids)
    return ids.hint("merge")


def _merged_with_identity(
    spark: SparkSession, path: str, ts_col: str
) -> DataFrame:
    """The merge-on-read face WITH row identity: base rows not
    superseded keep their own (file, pos); delta rows carry their
    ORIGIN identity forward, so a second UPDATE over already-updated
    rows supersedes by the same key. Partitions bearing no delta pass
    through untouched (no join); the tombstone side broadcasts only
    within the measured caps (see :func:`_tombstone_ids`)."""
    base = _base_with_identity(spark, path, ts_col)
    latest = _deltas_latest(spark, path, ts_col)
    if latest is None:
        return base
    pcol = ts_col + PARTITION_SUFFIX
    delta_dates = [
        r[0] for r in latest.select(pcol).distinct().collect()
    ]
    untouched = base.filter(~F.col(pcol).isin(delta_dates))
    masked = base.filter(F.col(pcol).isin(delta_dates)).join(
        _tombstone_ids(latest),
        [_ID_FILE, _ID_POS],
        "left_anti",
    )
    return untouched.unionByName(masked).unionByName(latest)


def read_designated_merged(
    spark: SparkSession, path: str, ts_col: str
) -> DataFrame:
    """User-facing merge-on-read read: the table as of all committed
    deltas, identity columns dropped. With no pending deltas this is
    exactly the plain declared read — zero overhead.

    Unlike the UPDATE path's :func:`_merged_with_identity` (which must
    key EVERY row in case the next predicate matches it), the read face
    computes the ``_metadata`` identity only on the delta-bearing
    partitions — the untouched branch is the PLAIN scan, so the read
    tax is confined to the partitions that actually have deltas."""
    meta = read_table_meta(spark, path)

    def plain() -> DataFrame:
        if meta is not None:
            return read_declared(spark, path, meta)
        return spark.read.parquet(path)

    latest = _deltas_latest(spark, path, ts_col)
    if latest is None:
        return plain()
    pcol = ts_col + PARTITION_SUFFIX
    delta_dates = [
        r[0] for r in latest.select(pcol).distinct().collect()
    ]
    untouched = plain().filter(~F.col(pcol).isin(delta_dates))
    masked = (
        _base_with_identity(spark, path, ts_col)
        .filter(F.col(pcol).isin(delta_dates))
        .join(
            _tombstone_ids(latest),
            [_ID_FILE, _ID_POS],
            "left_anti",
        )
        .drop(_ID_FILE, _ID_POS)
    )
    return untouched.unionByName(masked).unionByName(
        latest.drop(_ID_FILE, _ID_POS)
    )


def update_designated_mor(
    spark: SparkSession,
    path: str,
    ts_col: str,
    assignments: list[tuple[str, str]],
    where: str | None = None,
) -> list[str]:
    """Merge-on-read ``UPDATE t SET col = expr, … [WHERE pred]``: ONE
    filter-pruned read of the matched slice through the current merge
    face, a matched-rows-sized delta write, zero base bytes rewritten.
    The designated timestamp is not assignable (it keys the layout,
    same contract as the COW face). Returns the partition dates the
    delta touches (read back from the delta itself — matched-rows-
    sized, not a second base scan)."""
    pcol = ts_col + PARTITION_SUFFIX
    meta = read_table_meta(spark, path)
    merged = _merged_with_identity(spark, path, ts_col)
    declared = [
        c for c in merged.columns
        if c not in (pcol, _ID_FILE, _ID_POS)
    ]
    types = dict(
        (c["name"], c["spark_type"]) for c in meta["columns"]
    ) if meta is not None else {
        f.name: f.dataType.simpleString()
        for f in merged.schema.fields
        if f.name in set(declared)
    }
    assigned = dict(assignments)
    for col in assigned:
        if col == ts_col:
            raise ValueError(
                f"UPDATE cannot assign the designated timestamp "
                f"{ts_col!r} (QuestDB refuses; it also keys the "
                "partition layout here)"
            )
        if col not in types or col == pcol:
            raise ValueError(
                f"UPDATE target column {col!r} does not exist "
                f"(columns: {declared})"
            )
    matched = merged.filter(F.expr(where)) if where else merged
    seq = (_all_update_seqs(spark, path) or [0])[-1] + 1
    new_rows = matched.select(
        *[
            (
                F.expr(assigned[c]).cast(types[c]).alias(c)
                if c in assigned
                else F.col(c)
            )
            for c in declared
        ],
        F.col(pcol),
        F.col(_ID_FILE),
        F.col(_ID_POS),
        F.lit(seq).cast("int").alias(_ID_SEQ),
    )
    out = f"{path}/{UPDATES_DIR}/delta_{seq}"
    to_stored_names(
        new_rows, meta
    ).write.mode("error").parquet(out)
    dates = sorted(
        str(r[0])
        for r in spark.read.parquet(out).select(pcol).distinct().collect()
    )
    if not dates:
        # Empty match: drop the empty delta rather than leaving a
        # zero-row dir every read must list and merge against.
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(out)
        p.getFileSystem(spark._jsc.hadoopConfiguration()).delete(p, True)
    return dates

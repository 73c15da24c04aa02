"""ORC / plain-text source-sink round-trips and malformed-CSV
handling (S1/S3 family extensions — the ingest-robustness surface a
100 TB pipeline needs)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdata_flightanalysis_spark.sources.readers import (
    read_csv_permissive,
    read_orc,
    read_table,
    read_text,
)
from bigdata_flightanalysis_spark.sources.writers import (
    write_orc,
    write_text,
)

SF = "/root/testdata/sf0.001"


def test_orc_round_trip_with_partitioning(spark, tmp_path):
    docs = read_table(spark, SF, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    path = str(tmp_path / "docs_orc")
    write_orc(docs, path, partition_by=["lang"])
    back = read_orc(spark, path)
    assert back.count() == docs.count()
    a = sorted((r["doc_id"], r["lang"], r["n_chars"]) for r in docs.collect())
    b = sorted((r["doc_id"], r["lang"], r["n_chars"]) for r in back.collect())
    assert a == b


def test_orc_partition_pruning(spark, tmp_path):
    docs = read_table(spark, SF, "documents").select("doc_id", "lang")
    path = str(tmp_path / "docs_orc2")
    write_orc(docs, path, partition_by=["lang"])
    one = read_orc(spark, path).filter(F.col("lang") == "en")
    plan = one._jdf.queryExecution().executedPlan().toString()
    # the lang=en predicate must prune directories, not filter rows
    assert "PartitionFilters: [isnotnull(lang" in plan
    expected = docs.filter(F.col("lang") == "en").count()
    assert one.count() == expected


def test_text_round_trip_line_per_row(spark, tmp_path):
    docs = read_table(spark, SF, "documents").select("text").limit(50)
    path = str(tmp_path / "docs_txt")
    write_text(docs, path)
    back = read_text(spark, path)
    assert back.columns == ["value"]
    assert sorted(r["value"] for r in back.collect()) == sorted(
        r["text"] for r in docs.collect()
    )


def test_csv_permissive_quarantines_bad_rows(spark, tmp_path):
    p = tmp_path / "mixed.csv"
    p.write_text(
        "id,qty,price\n"
        "1,10,1.5\n"
        "2,notanumber,2.5\n"  # qty fails the int cast
        "3,30,3.5\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("qty", T.IntegerType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    df = read_csv_permissive(spark, str(p), schema).cache()
    try:
        assert df.count() == 3
        bad = df.filter(F.col("_corrupt_record").isNotNull())
        good = df.filter(F.col("_corrupt_record").isNull())
        assert bad.count() == 1
        row = bad.first()
        assert row["id"] == 2 and row["qty"] is None  # raw line preserved
        assert row["_corrupt_record"] == "2,notanumber,2.5"
        assert good.count() == 2
    finally:
        df.unpersist()


def test_csv_dropmalformed_drops_bad_rows(spark, tmp_path):
    p = tmp_path / "mixed2.csv"
    p.write_text("id,qty\n1,10\n2,notanumber\n3,30\n")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("qty", T.IntegerType()),
        ]
    )
    df = read_csv_permissive(spark, str(p), schema, mode="DROPMALFORMED")
    assert sorted(r["id"] for r in df.collect()) == [1, 3]


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution: a column added mid-stream is reconstructed
    (NULL-filled for old files) under mergeSchema — the posture for a
    long-lived 100 TB table whose producers upgrade over time."""
    base = str(tmp_path / "evolving")
    docs = read_table(spark, SF, "documents")
    docs.select("doc_id", "lang").write.parquet(f"{base}/batch=0")
    docs.select("doc_id", "lang", "n_chars").write.parquet(f"{base}/batch=1")
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(merged.columns) == {"doc_id", "lang", "n_chars", "batch"}
    old = merged.filter(F.col("batch") == 0)
    assert old.filter(F.col("n_chars").isNull()).count() == old.count()
    new = merged.filter(F.col("batch") == 1)
    assert new.filter(F.col("n_chars").isNull()).count() == 0
    assert merged.count() == 2 * docs.count()


def test_register_star_sql_entry_point(spark):
    from bigdata_flightanalysis_spark.sources.readers import register_star

    tables = register_star(spark, SF)
    assert len(tables) == 10
    got = spark.sql(
        """
        SELECT r_name, COUNT(*) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name
        """
    ).collect()
    assert len(got) == 5 and all(r["n"] > 0 for r in got)
    # pushdown survives the view
    plan = (
        spark.sql("SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'")
        ._jdf.queryExecution().sparkPlan().toString()
    )
    assert "EqualTo(o_orderstatus,F)" in plan


def test_observation_metrics_ride_the_query(spark):
    """df.observe(): pipeline telemetry (row counts, sums, null counts)
    collected DURING the query — no second scan. The operational
    posture for a 100 TB job: metrics come from the same pass that
    produced the output."""
    from pyspark.sql import Observation

    obs = Observation("ingest_metrics")
    orders = read_table(spark, SF, "orders")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .cast("double")
        .alias("total_price"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias(
            "null_custkeys"
        ),
    )
    out = observed.filter(F.col("o_orderstatus") == "F").count()
    m = obs.get
    assert m["n_rows"] == orders.count()  # metrics see pre-filter rows
    assert m["null_custkeys"] == 0
    assert m["total_price"] > 0
    assert out > 0


def test_compact_parquet_hits_target_file_count(spark, tmp_path):
    """Compaction sizes output files from on-disk bytes (no data pass)
    and preserves every row. Shrinking uses coalesce (narrow, no
    shuffle); the rewrite must land near the requested file size."""
    import os

    from bigdata_flightanalysis_spark.sources.writers import compact_parquet

    src = str(tmp_path / "fragmented")
    li = read_table(spark, SF, "lineitem")
    li.repartition(64).write.parquet(src)  # thousands-of-tiny-files shape
    n_src_files = sum(
        1 for f in os.listdir(src) if f.endswith(".parquet")
    )
    assert n_src_files >= 32

    total = sum(
        os.path.getsize(os.path.join(src, f))
        for f in os.listdir(src)
        if not f.startswith(("_", "."))
    )
    dst = str(tmp_path / "compacted")
    target = max(total // 4, 1)
    n = compact_parquet(spark, src, dst, target_file_bytes=target)
    n_dst_files = sum(1 for f in os.listdir(dst) if f.endswith(".parquet"))
    assert n == n_dst_files <= 5  # ~4 files for bytes/target=4
    assert spark.read.parquet(dst).count() == li.count()


def test_events_read_does_not_leak_legacy_parquet_conf(spark, sf_dir):
    """Reading the events table must not flip
    spark.sql.legacy.parquet.nanosAsLong for the whole session: the
    current testdata is TIMESTAMP(MICROS) and needs no flag; the flag
    is set only on the NANOS schema-conversion failure path (r14
    review — the old unconditional set made every later parquet read
    surface unrelated NANOS columns as bigint)."""
    from bigdata_flightanalysis_spark.sources.readers import read_table

    # normalize: other tests may have left the flag set on the shared
    # session — pin it false, then prove the events read keeps it so
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    df = read_table(spark, sf_dir, "events")
    assert df.count() > 0
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"


def test_word_shingles_accepts_named_columns(spark):
    """word_shingles(F.col(\"tokens\")) must work: arrays_zip names
    struct fields after NAMED input columns, so the positional access
    only worked for unnamed expressions before the r14 review fix."""
    from bigdata_flightanalysis_spark.functions.text import (
        tokenize,
        word_shingles,
    )

    df = spark.createDataFrame([("a b c d",)], "text string").select(
        tokenize("text").alias("tokens"), F.col("text")
    )
    named = df.select(word_shingles(F.col("tokens"), 3).alias("sh"))
    unnamed = spark.createDataFrame([("a b c d",)], "text string").select(
        word_shingles(tokenize("text"), 3).alias("sh")
    )
    assert named.collect() == unnamed.collect()
    assert named.collect()[0]["sh"] == ["a b c", "b c d"]


def test_checkpoint_scope_restores_user_level_dir(spark, tmp_path):
    """Exiting a scope must restore the ORIGINAL user-level dir, not
    getCheckpointDir()'s UUID-resolved value — the verbatim restore
    nested one UUID level per scope use (r14 review)."""
    import os

    from bigdata_flightanalysis_spark.operators.checkpointing import (
        checkpoint_scope,
    )

    sc = spark.sparkContext
    base = str(tmp_path / "user_ckpt")
    inner = str(tmp_path / "scoped_ckpt")
    with checkpoint_scope(spark, base):
        pass  # establishes a residue dir (or restores a prior one)
    d1 = sc.getCheckpointDir()
    for _ in range(3):
        with checkpoint_scope(spark, inner):
            pass
    d2 = sc.getCheckpointDir()
    # repeated scope exits must not DEEPEN the dir: same parent after
    # three more scopes (<user dir>/<uuid>, never <...>/<uuid>/<uuid>)
    assert os.path.dirname(d1) == os.path.dirname(d2), (d1, d2)


def test_checkpoint_scope_map_stays_bounded(spark, tmp_path):
    """Repeated scope use must not leak _USER_DIR_FOR entries: each
    exit pops the superseded previous resolution alongside its own, so
    the map is bounded by the active nesting depth plus the one
    documented prev-None residue (r15 advice)."""
    from bigdata_flightanalysis_spark.operators.checkpointing import (
        _USER_DIR_FOR,
        checkpoint_scope,
    )

    base = str(tmp_path / "bound_user")
    inner = str(tmp_path / "bound_scoped")
    with checkpoint_scope(spark, base):
        pass  # residue (or restore of a prior residue)
    sizes = []
    for _ in range(6):
        with checkpoint_scope(spark, inner):
            pass
        sizes.append(len(_USER_DIR_FOR))
    # constant across iterations (no per-use leak), and small
    assert len(set(sizes)) == 1 and sizes[-1] <= 3, sizes


def test_reliable_eager_checkpoint_computes_lineage_once(spark, tmp_path):
    """An eager RELIABLE checkpoint must not compute its frame twice.
    Classic Spark (≤3.x) did — materialize via count(), then the
    checkpoint write job re-ran the lineage unless the blocks were
    cached. Spark 4.1's Dataset.checkpoint calls doCheckpoint()
    directly (one job computes AND writes), which is why the
    checkpoint_scope materializer deliberately does NOT carry a
    persist-before-checkpoint wrapper (r16 optimization: tried,
    measured as pure overhead, reverted). This pin makes a future
    Spark upgrade that regresses to double-compute fail loudly: the
    accumulator counts how many times the frame's rows are actually
    produced — once, not once per job."""
    from bigdata_flightanalysis_spark.operators.checkpointing import (
        eager_checkpoint,
    )

    acc = spark.sparkContext.accumulator(0)

    def tag(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    persisted_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    base = spark.range(0, 1000, 1, 4).mapInPandas(tag, "id long")
    out = eager_checkpoint(base, str(tmp_path / "reliable_once"))
    assert acc.value == 1000, (
        f"lineage ran {acc.value / 1000:g} times during the eager "
        "reliable checkpoint; expected exactly once"
    )
    # the returned frame reads the checkpoint files, not the (released)
    # cache and not the lineage: consuming it adds nothing
    assert out.count() == 1000
    assert acc.value == 1000
    # and the materializer's own cache really was released (no net
    # growth of the session's persisted-RDD set)
    persisted_after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert persisted_after <= persisted_before, (
        "persist leaked past the checkpoint"
    )


def test_compact_parquet_preserves_hive_partition_layout(spark, tmp_path):
    """Compacting a hive-partitioned dataset must keep the col=value
    layout: the partition-blind rewrite FLATTENED it, so every reader
    that pruned on those dirs full-scanned from then on (r15 review).
    Explicit partition_by and local auto-detection both preserve it."""
    import os

    from bigdata_flightanalysis_spark.sources.writers import (
        compact_parquet,
        write_parquet,
    )

    src = str(tmp_path / "src")
    df = spark.range(1000).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS region"
    ).repartition(8)
    write_parquet(df, src, partition_by=["region"])
    assert any(e.startswith("region=") for e in os.listdir(src))

    dst = str(tmp_path / "dst")
    compact_parquet(spark, src, dst)  # auto-detected partitions
    assert any(e.startswith("region=") for e in os.listdir(dst))
    got = spark.read.parquet(dst)
    assert got.count() == 1000
    assert set(got.columns) == {"id", "region"}
    # partition pruning still works on the compacted output
    assert got.filter("region = '1'").count() == df.filter("region = '1'").count()

    dst2 = str(tmp_path / "dst2")
    compact_parquet(spark, src, dst2, partition_by=["region"])
    assert any(e.startswith("region=") for e in os.listdir(dst2))


def test_bench_sf_label_parses_only_trailing_sf_numbers():
    """bench's sf label must not rsplit on 'sf' anywhere in the path
    ('/data/transformed' used to label as 'ormed', r15 review)."""
    import bench

    assert bench.sf_label("/root/testdata/sf0.1") == 0.1
    assert bench.sf_label("/root/testdata/sf0.01/") == 0.01
    assert bench.sf_label("/data/transformed") == "transformed"
    assert bench.sf_label("/data/transfer_set") == "transfer_set"
    assert bench.sf_label("/x/sfabc") == "sfabc"


def test_peek_detects_csv_dirs_and_uppercase_suffix(tmp_path):
    """peek's CSV detection: case-insensitive suffix and directories
    of CSV part files (the engine's own write_csv layout) — the bare
    lowercase check fed both to the parquet reader (r15 review)."""
    from bigdata_flightanalysis_spark.sources.peek import _is_csv

    assert _is_csv("DATA.CSV")
    assert _is_csv("/x/y/file.csv")
    assert not _is_csv("/x/y/file.parquet")
    d = tmp_path / "csv_out"
    d.mkdir()
    (d / "part-00000.csv").write_text("a,b\n1,2\n")
    (d / "_SUCCESS").write_text("")
    assert _is_csv(str(d))
    p = tmp_path / "pq_out"
    p.mkdir()
    (p / "part-00000.snappy.parquet").write_bytes(b"x")
    assert not _is_csv(str(p))


def test_get_session_warns_when_reusing_mismatched_session(spark):
    """getOrCreate with an active session silently keeps the existing
    master/static confs — get_session must WARN when the requested
    sizing was not applied instead of letting the caller assert
    against someone else's session config (r15 review)."""
    import warnings

    from bigdata_flightanalysis_spark.session import get_session

    current = spark.sparkContext.master  # conftest session: local[8]
    mismatch = 2 if current == "local[4]" else 4
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = get_session("reuse-check", cores=mismatch)
    assert got is spark  # same JVM session reused
    assert any("NOT applied" in str(x.message) for x in w), [
        str(x.message) for x in w
    ]


def test_read_events_does_not_leak_nanos_flag_on_unrelated_errors(spark):
    """_read_events must set the session-global nanosAsLong flag ONLY
    for the NANOS schema-conversion failure: a bare except set it on
    ANY failure (typo'd path), re-raised the unrelated error, and left
    the flag leaked — every later parquet NANOS column silently
    surfaced as bigint (r15 review)."""
    import pytest

    from bigdata_flightanalysis_spark.sources.readers import read_table

    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, None)
    with pytest.raises(Exception):
        read_table(spark, "/nonexistent_sf_dir", "events")
    assert spark.conf.get(key, None) == before


def test_read_csv_rejects_schema_with_compat_mode(spark, tmp_path):
    """schema + compat_all_string=True is a contradictory ask: the
    caller believes the typed schema applies while the compat scan is
    all-string by contract (r15 review)."""
    import pytest
    from pyspark.sql import types as T

    from bigdata_flightanalysis_spark.sources.readers import read_csv

    p = tmp_path / "x.csv"
    p.write_text("a,b\n1,2\n")
    schema = T.StructType([T.StructField("a", T.IntegerType())])
    with pytest.raises(ValueError, match="mutually"):
        read_csv(spark, str(p), schema=schema, compat_all_string=True)


def test_checkpoint_scope_nested_cycles_do_not_leak(spark, tmp_path):
    """Nested scopes: the inner exit restores the outer dir through a
    FRESH resolution that supersedes the outer scope's captured `cur`;
    the outer exit used to pop only the stale `cur`, leaking the fresh
    entry — one per nested-scope cycle (r15 driver ADVICE). The exit
    now also pops the resolution that is ACTUALLY active."""
    from bigdata_flightanalysis_spark.operators.checkpointing import (
        _USER_DIR_FOR,
        checkpoint_scope,
    )

    base = str(tmp_path / "nest_base")
    outer = str(tmp_path / "nest_outer")
    inner = str(tmp_path / "nest_inner")
    with checkpoint_scope(spark, base):
        pass  # establishes a residue dir (or restores a prior one)
    sizes = []
    for _ in range(6):
        with checkpoint_scope(spark, outer):
            with checkpoint_scope(spark, inner):
                pass
        sizes.append(len(_USER_DIR_FOR))
    assert len(set(sizes)) == 1 and sizes[-1] <= 3, sizes


def test_compact_parquet_remote_src_requires_explicit_n_files(spark, tmp_path):
    """A non-local/URI src walks to total=0 and used to silently
    compact the whole dataset through ONE task — now a named error
    unless n_files is passed (r16 review)."""
    import pytest

    from bigdata_flightanalysis_spark.sources.writers import compact_parquet

    with pytest.raises(ValueError, match="n_files"):
        compact_parquet(spark, "s3a://bucket/ds", str(tmp_path / "d"))
    # a file: URI of a real local dataset also fails the isdir check
    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    with pytest.raises(ValueError, match="n_files"):
        compact_parquet(spark, "file:" + src, str(tmp_path / "d2"))
    # explicit n_files unblocks the URI form
    n = compact_parquet(
        spark, "file:" + src, str(tmp_path / "d3"), n_files=2
    )
    assert n == 2
    assert spark.read.parquet(str(tmp_path / "d3")).count() == 10


def test_compact_parquet_ignores_hidden_dir_bytes(spark, tmp_path):
    """Bytes under _temporary/.staging subtrees are invisible to the
    parquet reader and must not inflate the sizing walk (a crashed
    write's leftover copy used to halve every output file size, r16
    review)."""
    import os
    import shutil

    from bigdata_flightanalysis_spark.sources.writers import compact_parquet

    src = str(tmp_path / "src")
    li = read_table(spark, SF, "lineitem")
    li.repartition(16).write.parquet(src)
    # plant a near-full hidden copy (a crashed write's residue)
    shutil.copytree(src, os.path.join(src, "_temporary"))
    total_visible = sum(
        os.path.getsize(os.path.join(src, f))
        for f in os.listdir(src)
        if not f.startswith(("_", "."))
        and os.path.isfile(os.path.join(src, f))
    )
    dst = str(tmp_path / "dst")
    n = compact_parquet(
        spark, src, dst, target_file_bytes=max(total_visible // 2, 1)
    )
    # sized from VISIBLE bytes only: ~2 files, not ~4
    assert n <= 3, n
    assert spark.read.parquet(dst).count() == li.count()


def test_compact_parquet_partitioned_respects_target_size(spark, tmp_path):
    """The hive-partitioned rewrite must split a partition value into
    multiple files when its bytes exceed the target — it used to
    write exactly ONE file per value regardless (a 5 TB value became
    a 5 TB file) and report the unmet target as the written count
    (r16 review). The returned count is now the files actually
    written."""
    import os

    from bigdata_flightanalysis_spark.sources.writers import (
        compact_parquet,
        write_parquet,
    )

    src = str(tmp_path / "src")
    df = spark.range(40_000).selectExpr(
        "id", "CAST(id AS STRING) AS pad", "CAST(id % 2 AS STRING) AS region"
    )
    write_parquet(df, src, partition_by=["region"])
    total = 0
    for root, dirs, files in os.walk(src):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if not f.startswith(("_", "."))
        )
    dst = str(tmp_path / "dst")
    # target 1/8 of total over 2 leaf dirs -> ~4 files per value
    n = compact_parquet(spark, src, dst, target_file_bytes=max(total // 8, 1))
    per_value_files = {
        e: sum(
            1
            for f in os.listdir(os.path.join(dst, e))
            if not f.startswith(("_", "."))
        )
        for e in os.listdir(dst)
        if e.startswith("region=")
    }
    assert len(per_value_files) == 2
    assert all(k >= 2 for k in per_value_files.values()), per_value_files
    assert n == sum(per_value_files.values())
    assert spark.read.parquet(dst).count() == 40_000


def test_peek_csv_detection_covers_codecs_and_partitions(tmp_path):
    """_is_csv must route compressed (.csv.gz) and hive-partitioned
    CSV layouts to the CSV reader — they used to fall through to the
    parquet reader and die on a missing footer (r16 review)."""
    import os

    from bigdata_flightanalysis_spark.sources.peek import _is_csv

    gz = tmp_path / "gzdir"
    gz.mkdir()
    (gz / "part-00000.csv.gz").write_bytes(b"x")
    (gz / "_SUCCESS").write_bytes(b"")
    assert _is_csv(str(gz))

    part = tmp_path / "partdir"
    (part / "region=EU").mkdir(parents=True)
    (part / "region=EU" / "part-0.csv").write_text("a,b\n1,2\n")
    assert _is_csv(str(part))

    assert _is_csv(str(tmp_path / "UPPER.CSV.GZ"))
    pq = tmp_path / "pqdir"
    pq.mkdir()
    (pq / "part-0.parquet").write_bytes(b"x")
    assert not _is_csv(str(pq))

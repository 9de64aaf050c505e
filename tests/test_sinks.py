"""Partitioned-sink semantics: dynamic partition overwrite + merge upsert."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from housenumbercore_spark.sources import sinks as SK


def _jobs_df(spark, jobs, tag):
    rows = [(j, i, f"{tag}-{j}-{i}") for j in jobs for i in range(5)]
    return spark.createDataFrame(rows, "job_id int, rec_id int, payload string")


def _files_per_partition(path):
    out = {}
    for d in os.listdir(path):
        if d.startswith("job_id="):
            full = os.path.join(path, d)
            out[d] = sorted(
                (f, os.path.getmtime(os.path.join(full, f)))
                for f in os.listdir(full)
                if f.endswith(".parquet")
            )
    return out


def test_dynamic_overwrite_touches_only_written_partitions(spark):
    path = tempfile.mkdtemp(prefix="hns_sink_")
    SK.write_partitioned(_jobs_df(spark, [0, 1, 2], "v1"), path, ["job_id"])
    before = _files_per_partition(path)
    assert set(before) == {"job_id=0", "job_id=1", "job_id=2"}

    SK.write_partitioned(_jobs_df(spark, [1], "v2"), path, ["job_id"])
    after = _files_per_partition(path)
    assert after["job_id=0"] == before["job_id=0"], "untouched partition rewritten"
    assert after["job_id=2"] == before["job_id=2"]
    assert after["job_id=1"] != before["job_id=1"]

    got = spark.read.parquet(path)
    assert got.count() == 15
    v2 = got.filter(F.col("payload").startswith("v2")).select("job_id").distinct()
    assert [r.job_id for r in v2.collect()] == [1]


def test_merge_upsert_partitioned(spark):
    path = tempfile.mkdtemp(prefix="hns_merge_")
    SK.write_partitioned(_jobs_df(spark, [0, 1], "v1"), path, ["job_id"])

    # re-evaluate job 1: rec 0 updated, rec 9 inserted, rec 4 deleted,
    # recs 1-3 untouched (absent from updates → kept)
    updates = spark.createDataFrame(
        [(1, 0, "v2-upd"), (1, 9, "v2-new")],
        "job_id int, rec_id int, payload string",
    )
    deletes = spark.createDataFrame([(1, 4)], "job_id int, rec_id int")
    SK.merge_upsert_partitioned(
        spark, path, updates, ["job_id", "rec_id"], ["job_id"], deletes=deletes
    )

    got = {(r.job_id, r.rec_id): r.payload for r in spark.read.parquet(path).collect()}
    assert len([k for k in got if k[0] == 0]) == 5, "untouched job 0 intact"
    assert got[(1, 0)] == "v2-upd", "matched row updated"
    assert got[(1, 1)] == "v1-1-1", "unmatched row kept"
    assert (1, 4) not in got, "delete-set row removed"
    assert got[(1, 9)] == "v2-new", "new row inserted"
    assert len([k for k in got if k[0] == 1]) == 5


def test_merge_upsert_clears_emptied_partition(spark):
    """Deleting every row of a partition must remove the partition's files —
    dynamic overwrite alone never touches a partition absent from the output
    and would silently resurrect the deleted rows."""
    path = tempfile.mkdtemp(prefix="hns_merge_empty_")
    SK.write_partitioned(_jobs_df(spark, [0, 1], "v1"), path, ["job_id"])

    updates = spark.createDataFrame([], "job_id int, rec_id int, payload string")
    deletes = spark.createDataFrame(
        [(1, i) for i in range(5)], "job_id int, rec_id int"
    )
    SK.merge_upsert_partitioned(
        spark, path, updates, ["job_id", "rec_id"], ["job_id"], deletes=deletes
    )

    assert not os.path.exists(os.path.join(path, "job_id=1"))
    got = spark.read.parquet(path)
    assert got.count() == 5
    assert [r.job_id for r in got.select("job_id").distinct().collect()] == [0]


def test_merge_upsert_escaped_partition_values(spark):
    """Partition values with characters Spark percent-escapes in directory
    names (space, ':') must still be located for emptied-partition cleanup —
    composing f"{col}={value}" missed them and resurrected the deleted rows
    (round-2 ADVICE)."""
    rows = [("a b:c", i, f"v1-{i}") for i in range(3)] + [
        ("plain", i, f"p-{i}") for i in range(3)
    ]
    df = spark.createDataFrame(rows, "city string, rec_id int, payload string")
    path = tempfile.mkdtemp(prefix="hns_merge_esc_")
    SK.write_partitioned(df, path, ["city"])
    assert not os.path.exists(os.path.join(path, "city=a b:c")), (
        "precondition: Spark escapes the directory name"
    )

    updates = spark.createDataFrame([], "city string, rec_id int, payload string")
    deletes = spark.createDataFrame(
        [("a b:c", i) for i in range(3)], "city string, rec_id int"
    )
    SK.merge_upsert_partitioned(
        spark, path, updates, ["city", "rec_id"], ["city"], deletes=deletes
    )
    got = spark.read.parquet(path)
    assert got.count() == 3
    assert [r.city for r in got.select("city").distinct().collect()] == ["plain"]


def test_merge_upsert_clears_emptied_double_partition(spark):
    """Partition values whose JVM rendering differs from Python str() —
    doubles like 1e-7 render as '1.0E-7' on disk — must still be located
    for emptied-partition cleanup (expected names come from CAST AS STRING
    in the JVM, not Python formatting)."""
    df = spark.createDataFrame(
        [(1e-7, i, f"a-{i}") for i in range(3)]
        + [(2.5, i, f"b-{i}") for i in range(3)],
        "bucket double, rec_id int, payload string",
    )
    path = tempfile.mkdtemp(prefix="hns_merge_dbl_")
    SK.write_partitioned(df, path, ["bucket"])
    assert os.path.exists(os.path.join(path, "bucket=1.0E-7"))

    updates = spark.createDataFrame([], "bucket double, rec_id int, payload string")
    deletes = spark.createDataFrame(
        [(1e-7, i) for i in range(3)], "bucket double, rec_id int"
    )
    SK.merge_upsert_partitioned(
        spark, path, updates, ["bucket", "rec_id"], ["bucket"], deletes=deletes
    )
    assert not os.path.exists(os.path.join(path, "bucket=1.0E-7"))
    got = spark.read.parquet(path)
    assert got.count() == 3
    assert [r.bucket for r in got.select("bucket").distinct().collect()] == [2.5]


def test_merge_upsert_null_partition_value(spark):
    """A NULL partition value lands in __HIVE_DEFAULT_PARTITION__; both the
    swap-in of its staged replacement and the emptied-partition cleanup
    must resolve it by the NULL marker, never by string composition."""
    rows = [(None, 0, "n-0"), (None, 1, "n-1"), ("x", 0, "x-0")]
    df = spark.createDataFrame(rows, "city string, rec_id int, payload string")
    path = tempfile.mkdtemp(prefix="hns_merge_null_")
    SK.write_partitioned(df, path, ["city"])
    assert os.path.exists(os.path.join(path, "city=__HIVE_DEFAULT_PARTITION__"))

    # update one row inside the NULL partition → staged dir swap-in
    updates = spark.createDataFrame(
        [(None, 0, "n-0-v2")], "city string, rec_id int, payload string"
    )
    SK.merge_upsert_partitioned(spark, path, updates, ["city", "rec_id"], ["city"])
    got = {(r.city, r.rec_id): r.payload for r in spark.read.parquet(path).collect()}
    assert got[(None, 0)] == "n-0-v2" and got[(None, 1)] == "n-1"
    assert got[("x", 0)] == "x-0" and len(got) == 3

    # now delete every NULL-partition row → emptied-partition cleanup
    empt = spark.createDataFrame([], "city string, rec_id int, payload string")
    deletes = spark.createDataFrame(
        [(None, 0), (None, 1)], "city string, rec_id int"
    )
    SK.merge_upsert_partitioned(
        spark, path, empt, ["city", "rec_id"], ["city"], deletes=deletes
    )
    assert not os.path.exists(os.path.join(path, "city=__HIVE_DEFAULT_PARTITION__"))
    left = spark.read.parquet(path)
    assert left.count() == 1 and left.collect()[0].payload == "x-0"


def test_merge_upsert_randomized_vs_duckdb(spark):
    """Property-style check of the whole sink: random base/updates/deletes,
    expected snapshot computed independently in DuckDB from the same CSVs."""
    import duckdb
    import numpy as np

    rng = np.random.default_rng(1234)
    n = 400
    base = [(int(k), int(k % 7), f"v{int(rng.integers(0, 1000))}") for k in range(n)]
    upd_keys = sorted(rng.choice(n, size=120, replace=False).tolist())
    new_keys = list(range(n, n + 30))
    updates = [(int(k), int(k % 7), f"u{int(rng.integers(0, 1000))}")
               for k in upd_keys + new_keys]
    del_keys = sorted(
        rng.choice([k for k in range(n) if k not in set(upd_keys)],
                   size=60, replace=False).tolist()
    )

    path = tempfile.mkdtemp(prefix="hns_merge_rand_")
    schema = "k int, part int, payload string"
    SK.write_partitioned(spark.createDataFrame(base, schema), path, ["part"])
    SK.merge_upsert_partitioned(
        spark, path, spark.createDataFrame(updates, schema), ["k"], ["part"],
        deletes=spark.createDataFrame([(k,) for k in del_keys], "k int"),
    )
    got = sorted(
        (r.k, r.part, r.payload) for r in spark.read.parquet(path).collect()
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE base (k int, part int, payload varchar)")
    con.executemany("INSERT INTO base VALUES (?,?,?)", base)
    con.execute("CREATE TABLE upd (k int, part int, payload varchar)")
    con.executemany("INSERT INTO upd VALUES (?,?,?)", updates)
    con.execute("CREATE TABLE del (k int)")
    con.executemany("INSERT INTO del VALUES (?)", [(k,) for k in del_keys])
    want = sorted(
        tuple(r) for r in con.execute(
            "SELECT k, part, payload FROM upd UNION ALL "
            "SELECT k, part, payload FROM base WHERE k NOT IN (SELECT k FROM upd) "
            "AND k NOT IN (SELECT k FROM del)"
        ).fetchall()
    )
    assert got == want


def test_merge_upsert_single_data_write(spark, monkeypatch):
    """The commit path must write each touched partition's data exactly
    ONCE (stage inside the table + directory swap) — the old staging-table
    protocol wrote it twice."""
    calls = []
    real = SK.write_partitioned

    def counting(df, path, partition_cols, dynamic=True):
        calls.append(path)
        return real(df, path, partition_cols, dynamic)

    path = tempfile.mkdtemp(prefix="hns_merge_once_")
    SK.write_partitioned(_jobs_df(spark, [0, 1], "v1"), path, ["job_id"])
    monkeypatch.setattr(SK, "write_partitioned", counting)
    updates = spark.createDataFrame(
        [(1, 0, "v2-upd")], "job_id int, rec_id int, payload string"
    )
    SK.merge_upsert_partitioned(spark, path, updates, ["job_id", "rec_id"], ["job_id"])
    assert len(calls) == 1, calls
    assert calls[0].startswith(os.path.join(path, "_stage_"))
    assert not [d for d in os.listdir(path) if d.startswith("_stage_")], (
        "staging dir must be cleaned up"
    )
    got = {(r.job_id, r.rec_id): r.payload for r in spark.read.parquet(path).collect()}
    assert got[(1, 0)] == "v2-upd" and got[(0, 0)] == "v1-0-0"
    assert len(got) == 10


def test_merge_upsert_clears_emptied_nested_partition(spark):
    """Multi-column partitioning: the emptied-partition cleanup must build
    the nested job_id=/day= directory path correctly."""
    rows = [(j, d, i, f"v1-{j}-{d}-{i}") for j in (0, 1) for d in (10, 20)
            for i in range(3)]
    df = spark.createDataFrame(
        rows, "job_id int, day int, rec_id int, payload string"
    )
    path = tempfile.mkdtemp(prefix="hns_merge_nested_")
    SK.write_partitioned(df, path, ["job_id", "day"])

    updates = spark.createDataFrame(
        [], "job_id int, day int, rec_id int, payload string"
    )
    deletes = spark.createDataFrame(
        [(1, 20, i) for i in range(3)], "job_id int, day int, rec_id int"
    )
    SK.merge_upsert_partitioned(
        spark, path, updates, ["job_id", "day", "rec_id"], ["job_id", "day"],
        deletes=deletes,
    )
    assert not os.path.exists(os.path.join(path, "job_id=1", "day=20"))
    assert os.path.exists(os.path.join(path, "job_id=1", "day=10"))
    got = spark.read.parquet(path)
    assert got.count() == 9
    assert got.filter("job_id = 1 and day = 20").count() == 0


def test_merge_upsert_partition_move_drops_stale_copy(spark):
    """An update whose partition value differs from the current row's must
    rewrite the key's OLD partition too — touched partitions are derived
    from current rows matching update keys, not just from the update rows
    (otherwise the stale copy survives and the key reads back twice)."""
    path = tempfile.mkdtemp(prefix="hns_merge_move_")
    base = [(0, 100, "stay"), (0, 101, "mover-v1"), (1, 200, "other")]
    SK.write_partitioned(
        spark.createDataFrame(base, "job_id int, rec_id int, payload string"),
        path,
        ["job_id"],
    )
    # rec 101 moves from job 0 to job 2
    updates = spark.createDataFrame(
        [(2, 101, "mover-v2")], "job_id int, rec_id int, payload string"
    )
    SK.merge_upsert_partitioned(spark, path, updates, ["rec_id"], ["job_id"])
    got = {(r.job_id, r.rec_id): r.payload for r in spark.read.parquet(path).collect()}
    assert got == {
        (0, 100): "stay",
        (2, 101): "mover-v2",
        (1, 200): "other",
    }, got


def test_merge_upsert_empty_string_partition_value(spark):
    """Hive stores '' like NULL (__HIVE_DEFAULT_PARTITION__), while
    CAST('' AS STRING) stays '' — the wanted value must map to the NULL
    marker, and the emptied-partition scan must never match the in-flight
    _stage_/_old_ dirs themselves (a name without '=' decodes to value '',
    which used to collide with a wanted '' and trash the staging dir
    mid-commit)."""
    path = tempfile.mkdtemp(prefix="hns_merge_empty_val_")
    base = [("", 0, "e-0"), ("x", 0, "x-0")]
    SK.write_partitioned(
        spark.createDataFrame(base, "city string, rec_id int, payload string"),
        path,
        ["city"],
    )
    assert os.path.exists(os.path.join(path, "city=__HIVE_DEFAULT_PARTITION__"))

    # update a row INTO the ''-valued partition: its staged dir is the
    # hive-null dir while touched carries '', exercising the mapping
    updates = spark.createDataFrame(
        [("", 1, "e-1-new"), ("x", 1, "x-1-new")],
        "city string, rec_id int, payload string",
    )
    SK.merge_upsert_partitioned(spark, path, updates, ["city", "rec_id"], ["city"])
    got = {(r.city, r.rec_id): r.payload for r in spark.read.parquet(path).collect()}
    # '' reads back as NULL under hive partition semantics
    assert got == {
        (None, 0): "e-0",
        (None, 1): "e-1-new",
        ("x", 0): "x-0",
        ("x", 1): "x-1-new",
    }, got
    leftover = [d for d in os.listdir(path) if d.startswith(("_stage_", "_old_"))]
    assert leftover == [], f"staging dirs trashed/left behind: {leftover}"


def test_find_partition_dir_skips_metadata_dirs(spark):
    """Unit guard: _fs_find_partition_dir must ignore dirs without '=' and
    underscore/dot-prefixed dirs, and resolve a wanted '' to the hive NULL
    marker dir."""
    base = tempfile.mkdtemp(prefix="hns_findpart_")
    for d in ("_stage_deadbeef", "_old_deadbeef", ".hidden",
              "city=__HIVE_DEFAULT_PARTITION__", "city=plain"):
        os.makedirs(os.path.join(base, d))
    _, fs, root = SK._hadoop_fs(spark, base)
    assert SK._fs_find_partition_dir(fs, root, ("",)) == [
        "city=__HIVE_DEFAULT_PARTITION__"
    ]
    assert SK._fs_find_partition_dir(fs, root, (None,)) == [
        "city=__HIVE_DEFAULT_PARTITION__"
    ]
    assert SK._fs_find_partition_dir(fs, root, ("plain",)) == ["city=plain"]
    assert SK._fs_find_partition_dir(fs, root, ("nope",)) is None


def test_merge_sink_and_snapshot_merge_agree(spark, tmp_path):
    """Anti-drift guard for the two Workcache merge implementations
    (sinks.merge_upsert_partitioned and snapshots.merge_upsert_snapshot_table
    derive touched/kept independently): identical inputs — including a
    partition-moving update, a delete emptying a partition, NULL and ''
    partition values — must yield identical final table contents."""
    from housenumbercore_spark.sources import snapshots as SN

    rows = [
        (1, "a", "v1"), (2, "a", "v2"), (3, "b", "v3"), (4, "b", "v4"),
        (5, None, "v5"), (6, "", "v6"), (7, "c", "v7"),
    ]
    schema = "k int, part string, v string"
    upd = [
        (2, "a", "v2x"),     # in-place update
        (3, "d", "v3moved"),  # moves partition b -> d
        (5, None, "v5x"),     # NULL partition update
        (8, "a", "v8new"),    # insert
    ]
    dels = [(7,)]  # empties partition c

    base1 = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "sink_tbl")
    SK.write_partitioned(base1, path, ["part"], dynamic=False)
    SK.merge_upsert_partitioned(
        spark, path, spark.createDataFrame(upd, schema), ["k"], ["part"],
        deletes=spark.createDataFrame(dels, "k int"),
    )
    got_sink = spark.read.parquet(path)

    tbl = str(tmp_path / "snap_tbl")
    SN.snapshot_write(
        spark.createDataFrame(rows, schema), tbl, ["part"], mode="append"
    )
    SN.merge_upsert_snapshot_table(
        spark, tbl, spark.createDataFrame(upd, schema), ["k"],
        deletes=spark.createDataFrame(dels, "k int"),
    )
    got_snap = SN.read_snapshot(spark, tbl)

    a = sorted((r.k, r.part, r.v) for r in got_sink.collect())
    b = sorted((r.k, r.part, r.v) for r in got_snap.collect())
    assert a == b, f"sink {a}\nsnap {b}"


def test_merge_numeric_looking_string_partition_not_retyped(spark):
    """Partition-column INFERENCE re-typed string '07' to int 7 on the
    current-table read, forking one logical partition into part=07 and
    part=7 sibling dirs. The schema-pinned read keeps '07' a string."""
    path = tempfile.mkdtemp(prefix="hns_sink_retype_")
    df = spark.createDataFrame(
        [("07", 1, "a"), ("07", 2, "b"), ("x", 3, "c")],
        "part string, rec_id int, payload string",
    )
    SK.write_partitioned(df, path, ["part"])
    upd = spark.createDataFrame(
        [("07", 2, "b2")], "part string, rec_id int, payload string"
    )
    SK.merge_upsert_partitioned(spark, path, upd, ["rec_id"], ["part"])
    dirs = {d for d in os.listdir(path) if d.startswith("part=")}
    assert dirs == {"part=07", "part=x"}, dirs
    got = {
        (r.part, r.rec_id): r.payload
        for r in spark.read.schema(df.schema).parquet(path).collect()
    }
    assert got == {("07", 1): "a", ("07", 2): "b2", ("x", 3): "c"}
    # and deleting the whole partition clears the ONE dir
    SK.merge_upsert_partitioned(
        spark, path,
        spark.createDataFrame([], df.schema),
        ["rec_id"], ["part"],
        deletes=spark.createDataFrame([("07", 1), ("07", 2)],
                                      "part string, rec_id int"),
    )
    dirs = {d for d in os.listdir(path) if d.startswith("part=")}
    assert dirs == {"part=x"}, dirs


def test_merge_refuses_interrupted_commit_remnants(spark):
    """Leftover _stage_/_old_ dirs mean a previous merge crashed mid-swap
    with a partition's only copy in the trash dir; merging on top would
    commit the loss. The merge must refuse loudly instead."""
    import pytest

    path = tempfile.mkdtemp(prefix="hns_sink_remnant_")
    df = _jobs_df(spark, [0, 1], "v1")
    SK.write_partitioned(df, path, ["job_id"])
    os.makedirs(os.path.join(path, "_old_deadbeef/job_id=0"))
    upd = spark.createDataFrame(
        [(0, 1, "new")], "job_id int, rec_id int, payload string"
    )
    with pytest.raises(RuntimeError, match="_old_deadbeef"):
        SK.merge_upsert_partitioned(spark, path, upd, ["rec_id"], ["job_id"])


def test_write_partitioned_leaves_session_conf_alone(spark):
    """The overwrite mode travels as a per-write option: the session-
    global partitionOverwriteMode conf is never mutated (mutating it
    raced concurrent driver threads)."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    try:
        path = tempfile.mkdtemp(prefix="hns_sink_conf_")
        SK.write_partitioned(_jobs_df(spark, [0, 1], "v1"), path, ["job_id"])
        before = _files_per_partition(path)
        # dynamic semantics hold even with the session conf at static
        SK.write_partitioned(_jobs_df(spark, [1], "v2"), path, ["job_id"])
        after = _files_per_partition(path)
        assert after["job_id=0"] == before["job_id=0"]
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.unset(key)


def test_merge_refuses_drifted_updates_schema(spark):
    """The pre-merge footer probe must fail loudly on schema drift: a
    forced-schema read resolves columns by NAME, so a missing / re-typed
    data column would otherwise be silently NULLed (or dropped) in every
    rewritten partition."""
    import pytest

    path = tempfile.mkdtemp(prefix="hns_drift_")
    SK.write_partitioned(_jobs_df(spark, [0, 1], "v1"), path, ["job_id"])

    # (a) updates missing the payload column
    missing = spark.createDataFrame([(1, 0)], "job_id int, rec_id int")
    with pytest.raises(ValueError, match="payload"):
        SK.merge_upsert_partitioned(
            spark, path, missing, ["job_id", "rec_id"], ["job_id"]
        )

    # (b) re-typed data column (payload string -> int)
    retyped = spark.createDataFrame(
        [(1, 0, 7)], "job_id int, rec_id int, payload int"
    )
    with pytest.raises(ValueError, match="re-typed"):
        SK.merge_upsert_partitioned(
            spark, path, retyped, ["job_id", "rec_id"], ["job_id"]
        )

    # (c) extra column absent on disk
    extra = spark.createDataFrame(
        [(1, 0, "x", True)],
        "job_id int, rec_id int, payload string, flag boolean",
    )
    with pytest.raises(ValueError, match="flag"):
        SK.merge_upsert_partitioned(
            spark, path, extra, ["job_id", "rec_id"], ["job_id"]
        )

    # table untouched by the refused merges; a conforming merge still lands
    assert spark.read.parquet(path).count() == 10
    ok = spark.createDataFrame(
        [(1, 0, "v2-upd")], "job_id int, rec_id int, payload string"
    )
    SK.merge_upsert_partitioned(spark, path, ok, ["job_id", "rec_id"], ["job_id"])
    got = {(r.job_id, r.rec_id): r.payload for r in spark.read.parquet(path).collect()}
    assert got[(1, 0)] == "v2-upd"


def test_merge_accepts_non_nullable_nested_types(spark):
    """A file read reports every nested type nullable (array containsNull,
    map valueContainsNull, struct-field nullable), so an updates frame with
    the table's own non-nullable element types is the same schema, not a
    re-typing; a genuinely re-typed nested column is still refused."""
    import pytest
    from pyspark.sql import types as T

    def schema(elem, nested):
        return T.StructType([
            T.StructField("job_id", T.IntegerType(), False),
            T.StructField("rec_id", T.IntegerType(), False),
            T.StructField("tags", T.ArrayType(elem, containsNull=False), False),
            T.StructField("attrs", T.MapType(
                T.StringType(), T.LongType(), valueContainsNull=False), False),
            T.StructField("loc", T.StructType([
                T.StructField("x", nested, False)]), False),
        ])

    sch = schema(T.StringType(), T.DoubleType())
    path = tempfile.mkdtemp(prefix="hns_nested_")
    rows = [(j, i, [f"t{i}"], {"k": i}, (float(i),)) for j in (0, 1) for i in range(3)]
    SK.write_partitioned(spark.createDataFrame(rows, sch), path, ["job_id"])

    upd = spark.createDataFrame([(1, 0, ["new"], {"k": 9}, (9.0,))], sch)
    SK.merge_upsert_partitioned(spark, path, upd, ["job_id", "rec_id"], ["job_id"])
    got = {(r.job_id, r.rec_id): list(r.tags) for r in spark.read.parquet(path).collect()}
    assert len(got) == 6
    assert got[(1, 0)] == ["new"] and got[(0, 0)] == ["t0"]

    bad_tags = spark.createDataFrame(
        [(1, 0, [1], {"k": 1}, (1.0,))], schema(T.IntegerType(), T.DoubleType())
    )
    bad_loc = spark.createDataFrame(
        [(1, 0, ["x"], {"k": 1}, ("1",))], schema(T.StringType(), T.StringType())
    )
    for bad in (bad_tags, bad_loc):
        with pytest.raises(ValueError, match="re-typed"):
            SK.merge_upsert_partitioned(
                spark, path, bad, ["job_id", "rec_id"], ["job_id"]
            )

"""Live relational round-trip tests (S5): the JDBC write/read model
exercised against a real SQL engine (SQLite, stdlib) — per-partition
transactional writes under real lock contention, idempotent re-runs,
get-or-create dims, and the partitioned rowid-range reader."""

from __future__ import annotations

import os
import sqlite3

import pytest
from pyspark.sql import functions as F

from factory_inspectors_db_etl_spark.sources.sqlite_relational import (
    SqliteRelationDataSource,
    write_relational,
)
from factory_inspectors_db_etl_spark.sources.tables import load_table


@pytest.fixture()
def db(tmp_path):
    return str(tmp_path / "warehouse.db")


def _register_source(spark):
    # idempotent: re-registering the same name raises in some versions
    try:
        spark.dataSource.register(SqliteRelationDataSource)
    except Exception:
        pass


def _read(spark, db, table, partitions=4):
    _register_source(spark)
    return (
        spark.read.format("sqlite_relation")
        .options(path=db, table=table, partitions=str(partitions))
        .load()
    )


def test_roundtrip_types_and_values(spark, db):
    df = spark.createDataFrame(
        [
            (1, 2.5, "a", True, "2024-01-02 03:04:05"),
            (2, -0.25, "b", False, "2024-06-07 08:09:10"),
            (3, None, None, None, None),
        ],
        "id long, x double, s string, flag boolean, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    write_relational(df, db, "t1", key_cols=["id"])
    got = {r["id"]: r for r in _read(spark, db, "t1").collect()}
    assert got[1]["x"] == 2.5 and got[1]["s"] == "a"
    assert got[1]["flag"] == 1 and got[2]["flag"] == 0  # documented 0/1 mapping
    assert got[1]["ts"].startswith("2024-01-02 03:04:05")
    assert got[3]["x"] is None and got[3]["s"] is None and got[3]["ts"] is None


def test_upsert_rerun_is_idempotent(spark, db):
    """The task-retry story: writing the same frame twice (and a changed
    frame once more) leaves exactly one row per key, last write wins."""
    df = spark.range(0, 100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    write_relational(df, db, "t2", key_cols=["id"])
    write_relational(df, db, "t2", key_cols=["id"])
    changed = spark.range(0, 100).select(F.col("id"), (F.col("id") * 3).alias("v"))
    write_relational(changed, db, "t2", key_cols=["id"])
    got = _read(spark, db, "t2").collect()
    assert len(got) == 100 and all(r["v"] == r["id"] * 3 for r in got)


def test_ignore_mode_is_get_or_create(spark, db):
    """The reference's dim-load shape: second batch with overlapping
    natural keys inserts ONLY the new keys; existing rows keep their
    original payload (first write wins)."""
    first = spark.createDataFrame([("alice", 1), ("bob", 2)], "name string, v int")
    second = spark.createDataFrame([("bob", 99), ("carol", 3)], "name string, v int")
    write_relational(first, db, "dim", key_cols=["name"], mode="ignore")
    write_relational(second, db, "dim", key_cols=["name"], mode="ignore")
    got = {r["name"]: r["v"] for r in _read(spark, db, "dim").collect()}
    assert got == {"alice": 1, "bob": 2, "carol": 3}  # bob kept v=2


def test_concurrent_partition_writers(spark, db):
    """32 partitions contending on the real file lock (WAL +
    busy_timeout): every row lands exactly once."""
    df = spark.range(0, 20_000).repartition(32).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("h")
    )
    write_relational(df, db, "big", key_cols=["id"])
    con = sqlite3.connect(db)
    n, distinct = con.execute('SELECT count(*), count(DISTINCT id) FROM "big"').fetchone()
    con.close()
    assert n == 20_000 and distinct == 20_000


def test_partitioned_read_covers_exactly_once(spark, db):
    df = spark.range(0, 5_000).select(F.col("id"), (F.col("id") % 7).alias("m"))
    write_relational(df, db, "t3", key_cols=["id"])
    got = _read(spark, db, "t3", partitions=8)
    assert got.rdd.getNumPartitions() == 8
    assert got.count() == 5_000
    assert got.select(F.count_distinct("id")).collect()[0][0] == 5_000
    assert got.groupBy().agg(F.sum("id")).collect()[0][0] == 5_000 * 4_999 // 2


def test_driver_table_roundtrip(spark, db, sf_dir):
    """A real catalog table through the sink and back: orders (ts column
    included) survives bit-for-bit on keys and aggregates."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    write_relational(o, db, "orders", key_cols=["o_orderkey"])
    back = _read(spark, db, "orders", partitions=6)
    assert back.count() == o.count()
    a = o.agg(F.sum("o_custkey"), F.sum(F.col("o_totalprice").cast("decimal(18,2)"))).collect()[0]
    b = back.agg(F.sum("o_custkey"), F.sum(F.col("o_totalprice").cast("decimal(18,2)"))).collect()[0]
    assert (a[0], a[1]) == (b[0], b[1])


def test_empty_table_reads_empty(spark, db):
    df = spark.range(0, 10).select(F.col("id")).filter(F.col("id") < 0)
    write_relational(df, db, "t4", key_cols=["id"])
    assert _read(spark, db, "t4").count() == 0


def test_loud_failures(spark, db):
    df = spark.range(0, 3).select(F.col("id"), F.array(F.lit(1)).alias("arr"))
    with pytest.raises(TypeError, match="refuses column type"):
        write_relational(df, db, "bad", key_cols=["id"])
    with pytest.raises(ValueError, match="needs key_cols"):
        write_relational(spark.range(1), db, "t5", mode="upsert")
    write_relational(spark.range(1).select("id"), db, "t6", key_cols=["id"])
    with pytest.raises(Exception, match="not found"):
        _read(spark, db, "nosuch").collect()


def test_overwrite_clears_previous_rows(spark, db):
    write_relational(spark.range(0, 10).select("id"), db, "t7", key_cols=["id"])
    write_relational(
        spark.range(100, 103).select("id"), db, "t7", key_cols=["id"], overwrite=True
    )
    got = sorted(r["id"] for r in _read(spark, db, "t7").collect())
    assert got == [100, 101, 102]


def test_warehouse_star_schema_to_live_sql(spark, db, generated_roster):
    """The reference's ACTUAL sink shape (populate_db_ru_v1.py:765-769 —
    a relational star-schema load with get-or-create dims) against a
    live SQL engine: all five dims + fact land in SQLite, a re-run
    changes nothing (idempotent load), and referential integrity is
    verified BY THE SQL ENGINE (the join the reference's FK constraints
    enforce).  Runs on the generated roster: every check is structural."""
    from factory_inspectors_db_etl_spark.plans.inspectors_etl import build_warehouse

    t = build_warehouse(spark, f"{generated_roster}/fabric*.html")
    dims = {
        "inspectors": "inspector_id",
        "locations": "location_id",
        "ranks": "rank_id",
        "professions": "profession_id",
        "educations": "education_id",
    }
    for name, key in dims.items():
        write_relational(t[name], db, name, key_cols=[key], mode="ignore")
    write_relational(t["assignments"], db, "assignments", key_cols=["assignment_id"])
    # idempotent re-run: the daily reload leaves the database unchanged
    for name, key in dims.items():
        write_relational(t[name], db, name, key_cols=[key], mode="ignore")
    write_relational(t["assignments"], db, "assignments", key_cols=["assignment_id"])

    con = sqlite3.connect(db)
    try:
        for name in list(dims) + ["assignments"]:
            (n,) = con.execute(f'SELECT count(*) FROM "{name}"').fetchone()
            assert n == t[name].count(), name
        # FK integrity checked by the live engine, reference's constraint set
        for dim, key in dims.items():
            fk = {
                "inspectors": "inspector_id",
                "locations": "inspector_location_id",
                "ranks": "rank_id",
                "professions": "profession_id",
                "educations": "education_id",
            }[dim]
            (orphans,) = con.execute(
                f'SELECT count(*) FROM assignments a LEFT JOIN "{dim}" d '
                f'ON a."{fk}" = d."{key}" WHERE a."{fk}" IS NOT NULL AND d."{key}" IS NULL'
            ).fetchone()
            assert orphans == 0, f"orphan {fk} in assignments vs {dim}"
        # and a value probe back through the partitioned reader
    finally:
        con.close()
    back = _read(spark, db, "assignments", partitions=4)
    assert back.groupBy().agg(F.sum("year")).collect()[0][0] == \
        t["assignments"].groupBy().agg(F.sum("year")).collect()[0][0]


def test_stream_relational_sink_exactly_once(spark, db, sf_dir, tmp_path):
    """Streaming -> live SQL: availableNow drains events into SQLite
    (row parity with batch), a checkpoint-restart writes nothing new,
    and a REPLAYED fully-committed batch is skipped via the batch
    ledger (the handler, called again with the same batch_id and
    different data, must not touch the table)."""
    from factory_inspectors_db_etl_spark.sources.sqlite_relational import (
        stream_relational_sink,
    )
    from factory_inspectors_db_etl_spark.streaming.ops import stream_events

    ckpt = str(tmp_path / "ckpt")
    st = stream_events(spark, sf_dir).select("event_id", "user_id", "event_type")
    q = stream_relational_sink(
        st, db, "events_sink", ["event_id"], ckpt
    ).trigger(availableNow=True).start()
    q.awaitTermination(300)
    ev = load_table(spark, sf_dir, "events")
    want = ev.count()
    con = sqlite3.connect(db)
    n, nd = con.execute(
        'SELECT count(*), count(DISTINCT event_id) FROM "events_sink"'
    ).fetchone()
    assert (n, nd) == (want, want)

    # restart on the same checkpoint: no new batches, no new rows
    q2 = stream_relational_sink(
        st, db, "events_sink", ["event_id"], ckpt
    ).trigger(availableNow=True).start()
    q2.awaitTermination(300)
    (n2,) = con.execute('SELECT count(*) FROM "events_sink"').fetchone()
    assert n2 == want

    # committed-batch replay: drive the REAL handler again with batch_id
    # 0 (already in the ledger) and different data — it must skip
    from factory_inspectors_db_etl_spark.sources.sqlite_relational import (
        relational_batch_handler,
    )

    (batches,) = con.execute(
        'SELECT count(*) FROM "_spark_batch_log" WHERE tbl = ?', ("events_sink",)
    ).fetchone()
    assert batches >= 1
    con.close()
    probe = spark.createDataFrame(
        [(999_999_999, 1, "hacked")], "event_id long, user_id long, event_type string"
    )
    handler = relational_batch_handler(db, "events_sink", ["event_id"])
    handler(probe, 0)  # replay of a committed batch: skipped
    con = sqlite3.connect(db)
    (hacked,) = con.execute(
        'SELECT count(*) FROM "events_sink" WHERE event_id = 999999999'
    ).fetchone()
    con.close()
    assert hacked == 0
    # an UNcommitted batch_id with the same handler DOES write (and is
    # then ledgered): the skip is ledger-driven, not accidental
    handler(probe, 999)
    con = sqlite3.connect(db)
    (hacked2,) = con.execute(
        'SELECT count(*) FROM "events_sink" WHERE event_id = 999999999'
    ).fetchone()
    (ledgered,) = con.execute(
        'SELECT count(*) FROM "_spark_batch_log" WHERE tbl=? AND batch_id=999',
        ("events_sink",),
    ).fetchone()
    con.close()
    assert hacked2 == 1 and ledgered == 1
    with pytest.raises(ValueError, match="append mode"):
        stream_relational_sink(st, db, "x", ["event_id"], ckpt, mode="append")


# ---------------------------------------------------------------------------
# Spark-4 Python Data Source WRITER: staged-commit exactly-once protocol
# ---------------------------------------------------------------------------


def test_datasource_writer_append_and_overwrite_roundtrip(spark, tmp_path):
    _register_source(spark)
    db = str(tmp_path / "w.db")
    df = spark.createDataFrame(
        [(i, f"n{i}", float(i) / 4) for i in range(257)], ["id", "name", "score"]
    ).repartition(8)
    df.write.format("sqlite_relation").options(path=db, table="people").mode(
        "append"
    ).save()
    con = sqlite3.connect(db)
    (n,) = con.execute('SELECT count(*) FROM "people"').fetchone()
    assert n == 257
    # append accumulates
    df.limit(10).write.format("sqlite_relation").options(path=db, table="people").mode(
        "append"
    ).save()
    (n2,) = con.execute('SELECT count(*) FROM "people"').fetchone()
    assert n2 == 267
    # overwrite atomically replaces
    df.limit(5).write.format("sqlite_relation").options(path=db, table="people").mode(
        "overwrite"
    ).save()
    (n3,) = con.execute('SELECT count(*) FROM "people"').fetchone()
    assert n3 == 5
    # no staging tables survive a successful commit
    stg = list(
        con.execute("SELECT name FROM sqlite_master WHERE name LIKE '_stg_people_%'")
    )
    con.close()
    assert stg == []
    # round-trip through the READER half of the same data source
    back = (
        spark.read.format("sqlite_relation")
        .options(path=db, table="people", partitions=3)
        .load()
    )
    assert back.count() == 5
    assert {r["id"] for r in back.collect()} <= set(range(257))


def test_datasource_writer_commit_cleans_orphaned_attempts(spark, tmp_path):
    """A staging table left behind by a failed/duplicate task attempt
    must NOT be published, and commit() must sweep it away."""
    _register_source(spark)
    db = str(tmp_path / "o.db")
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    df.write.format("sqlite_relation").options(path=db, table="t").mode("append").save()
    # plant an orphan as if a zombie attempt had committed its staging
    con = sqlite3.connect(db)
    con.execute('CREATE TABLE "_stg_t_deadbeef" AS SELECT * FROM "t" WHERE 0')
    con.execute('INSERT INTO "_stg_t_deadbeef" VALUES (99, "zombie")')
    con.commit()
    con.close()
    df.write.format("sqlite_relation").options(path=db, table="t").mode("append").save()
    con = sqlite3.connect(db)
    (zombies,) = con.execute('SELECT count(*) FROM "t" WHERE id = 99').fetchone()
    stg = list(con.execute("SELECT name FROM sqlite_master WHERE name LIKE '_stg_t_%'"))
    (n,) = con.execute('SELECT count(*) FROM "t"').fetchone()
    con.close()
    assert zombies == 0  # orphan rows never published
    assert stg == []  # and the orphan table was swept
    assert n == 4


def test_datasource_writer_rejects_suspicious_names(spark, tmp_path):
    _register_source(spark)
    db = str(tmp_path / "s.db")
    df = spark.createDataFrame([(1,)], ["ok"])
    with pytest.raises(Exception, match="suspicious table name"):
        df.write.format("sqlite_relation").options(path=db, table='t"; DROP').mode(
            "append"
        ).save()


def test_datasource_commit_never_sweeps_other_targets_staging(spark, tmp_path):
    """ADVICE r6: the orphan sweep used ``name LIKE '_stg_<table>_%'``,
    and in SQLite LIKE '_' is a single-char WILDCARD — committing table
    'a' matched (and DROPped) '_stg_ab_<uuid>', destroying a concurrent
    in-flight write to table 'ab' before its commit.  Pin the fix: a
    staged-but-uncommitted table of ANOTHER target (including the
    prefix-collision names 'ab' and 'a_b') survives table 'a's commit
    sweep verbatim."""
    _register_source(spark)
    db = str(tmp_path / "c.db")
    df = spark.createDataFrame([(1, "x")], ["id", "v"])
    # targets whose staging names LIKE-collide or prefix-collide with 'a'
    for other in ("ab", "a_b"):
        df.write.format("sqlite_relation").options(path=db, table=other).mode(
            "append"
        ).save()
    con = sqlite3.connect(db)
    uuid_hex = "0123456789abcdef0123456789abcdef"
    for other in ("ab", "a_b"):
        con.execute(f'CREATE TABLE "_stg_{other}_{uuid_hex}" (id, v)')
        con.execute(f'INSERT INTO "_stg_{other}_{uuid_hex}" VALUES (7, "inflight")')
    con.commit()
    con.close()
    # commit target 'a' — its sweep must not touch the other stagings
    df.write.format("sqlite_relation").options(path=db, table="a").mode("append").save()
    con = sqlite3.connect(db)
    names = {r[0] for r in con.execute("SELECT name FROM sqlite_master WHERE type='table'")}
    for other in ("ab", "a_b"):
        assert f"_stg_{other}_{uuid_hex}" in names, (
            f"commit of 'a' swept another target's in-flight staging table "
            f"(_stg_{other}_...): the LIKE-wildcard regression is back"
        )
        (rows,) = con.execute(f'SELECT count(*) FROM "_stg_{other}_{uuid_hex}"').fetchone()
        assert rows == 1
    # and 'a's own staging is gone
    assert not [n for n in names if n.startswith("_stg_a_") and not n.startswith("_stg_a_b")]
    con.close()

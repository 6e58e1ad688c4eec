"""Source/sink coverage (SURVEY.md §2.4): format roundtrips, schema'd
reads, malformed-row policies, partitioned writes with pruning."""

from decimal import Decimal

import pytest

from pyspark.sql import functions as F

from proceso_de_etl_spark.sources.catalog import load_table
from proceso_de_etl_spark.sources.io import (
    read_csv,
    read_json,
    read_orc,
    write_csv,
    write_orc,
    write_parquet,
)
from proceso_de_etl_spark.sources.local import local_frame
from tests.conftest import SF_SMOKE


def _sample(spark):
    return load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )


def test_csv_roundtrip(spark, tmp_path):
    df = _sample(spark)
    p = str(tmp_path / "csv")
    write_csv(df, p)
    back = read_csv(spark, p, "c_custkey bigint, c_name string, c_acctbal double")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_json_roundtrip(spark, tmp_path):
    df = _sample(spark)
    p = str(tmp_path / "json")
    df.write.json(p)
    back = read_json(spark, p, "c_custkey bigint, c_name string, c_acctbal double")
    assert back.count() == df.count()
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_orc_roundtrip(spark, tmp_path):
    df = _sample(spark)
    p = str(tmp_path / "orc")
    write_orc(df, p)
    back = read_orc(spark, p)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_csv_malformed_policies(spark, tmp_path):
    raw = tmp_path / "raw.csv"
    raw.write_text("id,v\n1,10\nbad-row,not-a-number\n3,30\n")
    schema = "id bigint, v bigint"

    permissive = read_csv(spark, str(raw), schema, mode="PERMISSIVE")
    rows = {r.id: r.v for r in permissive.collect()}
    assert rows[1] == 10 and rows[3] == 30 and rows[None] is None

    dropped = read_csv(spark, str(raw), schema, mode="DROPMALFORMED")
    # count() would prune every column and the parser would never see
    # the malformed cells — materialize the columns to apply the policy
    assert len(dropped.collect()) == 2

    with pytest.raises(Exception):
        read_csv(spark, str(raw), schema, mode="FAILFAST").collect()


def _four_file_lineitem(spark, tmp_path):
    """lineitem re-read from a 4-file copy, so the frame has four
    input splits that each hold every ship year. The copy must come
    from a read: CollapseRepartition would fold a ``repartition(4)``
    placed directly under the write's rebalance."""
    src = str(tmp_path / "lineitem_4")
    load_table(spark, SF_SMOKE, "lineitem").repartition(4).write.parquet(src)
    return spark.read.parquet(src).withColumn("ship_year", F.year("l_shipdate").cast("int"))


def _data_files_per_partition(root: str) -> dict[str, int]:
    import os

    return {
        d: sum(f.endswith(".parquet") for f in os.listdir(os.path.join(root, d)))
        for d in os.listdir(root)
        if "=" in d
    }


def test_partitioned_write_prunes(spark, tmp_path):
    li = _four_file_lineitem(spark, tmp_path)
    assert li.rdd.getNumPartitions() == 4
    p = str(tmp_path / "fact")
    write_parquet(li, p, partition_by=["ship_year"])
    # sized by data: a few KB per year is one file, not one per input split
    files = _data_files_per_partition(p)
    assert len(files) > 1 and set(files.values()) == {1}, files
    back = spark.read.parquet(p).filter(F.col("ship_year") == 1997)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ship_year" in plan.split("PartitionFilters")[1][:200]
    want = li.filter(F.col("ship_year") == 1997).count()
    assert back.count() == want


def test_partitioned_write_splits_partitions_above_advisory_size(spark, tmp_path):
    """The other half of the layout rule: a partition value with more
    bytes than the advisory size is written by several tasks, so a
    100 TB year is never funneled through one."""
    li = _four_file_lineitem(spark, tmp_path)
    p = str(tmp_path / "fact")
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "16k")
    try:
        write_parquet(li, p, partition_by=["ship_year"])
    finally:
        spark.conf.set(key, prev)
    assert max(_data_files_per_partition(p).values()) > 1
    assert spark.read.parquet(p).count() == li.count()


def test_avro_gated_with_actionable_error(spark):
    from proceso_de_etl_spark.sources.io import avro_available, read_avro

    assert not avro_available(spark)
    with pytest.raises(RuntimeError, match="spark-avro"):
        read_avro(spark, "/tmp/nope.avro")


def test_jdbc_gated_with_actionable_error(spark):
    from proceso_de_etl_spark.sources.jdbc import jdbc_available, read_jdbc_partitioned

    assert not jdbc_available(spark, "com.microsoft.sqlserver.jdbc.SQLServerDriver")
    with pytest.raises(RuntimeError, match="classpath"):
        read_jdbc_partitioned(
            spark, "jdbc:sqlserver://h;databaseName=OpinionDB", "Clientes",
            "IdCliente", 0, 1000, 8,
        )


def test_parquet_schema_evolution_merges_by_name(spark, tmp_path):
    """Files written before a column existed must read as NULL for
    it; filters on always-present columns still push down."""
    from proceso_de_etl_spark.sources.io import read_parquet_evolving

    old = str(tmp_path / "epoch_old")
    new = str(tmp_path / "epoch_new")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").write.parquet(old)
    spark.createDataFrame(
        [(3, "c", 0.5)], "id long, v string, quality double"
    ).write.parquet(new)

    df = read_parquet_evolving(spark, old, new)
    assert set(df.columns) == {"id", "v", "quality"}
    rows = {r.id: (r.v, r.quality) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 0.5)}

    plan = df.filter(df.id > 1)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,1)]" in plan


def test_compaction_reduces_files_losslessly(spark, tmp_path):
    """E21's claim: a 64-way fragmented table compacts to the
    byte-budgeted file count and loses nothing. Values are covered by
    the etl_compact_small_files oracle; this pins the file counts and
    row identity."""
    from proceso_de_etl_spark.sources.io import compact_parquet

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    events = load_table(spark, SF_SMOKE, "events")
    events.repartition(64).write.parquet(src)

    before, after = compact_parquet(spark, src, dst, ["ts", "user_id"], 1 << 20)
    assert before == 64
    assert after < before
    back = spark.read.parquet(dst)
    assert back.count() == events.count()
    assert back.select(F.sum(F.hash(*sorted(back.columns)))).first()[0] == \
        events.select(F.sum(F.hash(*sorted(events.columns)))).first()[0]


def test_time_travel_retains_and_vacuums_versions(spark, tmp_path):
    """E22 mechanics: retained commits are listable newest-first,
    readable by txn id with exact old content, vacuum drops archived
    snapshots but never the current one, and a vacuumed txn fails
    loudly with the retrievable set."""
    import pytest as _pytest

    from proceso_de_etl_spark.sources.atomic import (
        atomic_write_tables,
        list_table_versions,
        read_table_version,
        vacuum_table_versions,
    )

    root = str(tmp_path / "versioned")
    for hi in (1, 2, 3):
        df = spark.createDataFrame([(i,) for i in range(hi + 1)], "id long")
        atomic_write_tables(root, {"t": df}, retain_history=True)

    versions = list_table_versions(root, "t")
    assert [kind for _, kind in versions] == ["current", "archived", "archived"]
    v1_txn = versions[2][0]  # oldest archived = the first commit
    assert {r.id for r in read_table_version(spark, root, "t", v1_txn).collect()} == {0, 1}
    assert {r.id for r in read_table_version(spark, root, "t").collect()} == {0, 1, 2, 3}

    assert vacuum_table_versions(root, "t", keep_last=1) == 1
    assert [kind for _, kind in list_table_versions(root, "t")] == ["current", "archived"]
    with _pytest.raises(KeyError, match="not retained"):
        read_table_version(spark, root, "t", v1_txn)
    assert vacuum_table_versions(root, "t") == 1
    assert {r.id for r in read_table_version(spark, root, "t").collect()} == {0, 1, 2, 3}


def test_load_table_fails_fast_with_actionable_errors(spark):
    """Misuse must fail loudly at the call site: an unknown table name
    raises a KeyError listing the known tables; a missing sf_dir
    surfaces Spark's AnalysisException naming the path (eager parquet
    existence check), not a later empty result."""
    from pyspark.errors import AnalysisException

    with pytest.raises(KeyError, match="unknown table"):
        load_table(spark, SF_SMOKE, "bogus")
    with pytest.raises(AnalysisException):
        load_table(spark, "/root/testdata/does_not_exist", "orders")


def test_dynamic_partition_overwrite_touches_only_batch_partitions(spark, tmp_path):
    """E25's physical claim: in dynamic mode an overwrite replaces
    ONLY the partitions present in the batch — other partition
    directories keep their exact files (same names, same bytes —
    no rewrite); in the default static mode the same write would
    have dropped them entirely."""
    import os

    root = str(tmp_path / "dpo")
    schema = "id long, part string, v double"
    base = spark.createDataFrame([(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)], schema)
    write_parquet(base, root, partition_by=["part"])

    def listing(part: str) -> list[tuple[str, int]]:
        d = os.path.join(root, f"part={part}")
        return sorted(
            (f, os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    a_before = listing("a")
    conf_before = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    batch = spark.createDataFrame([(9, "b", 99.0)], schema)
    write_parquet(batch, root, partition_by=["part"], dynamic=True)
    # the mode is a per-write option: the session conf is never flipped
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == conf_before
    assert listing("a") == a_before  # untouched partition: identical files
    got = {(r.id, r.part, r.v) for r in spark.read.parquet(root).collect()}
    assert got == {(1, "a", 10.0), (2, "a", 20.0), (9, "b", 99.0)}


def _jobs_launched(spark, fn) -> int:
    """Spark jobs started while ``fn`` runs, counted under a job group
    of their own once the listener bus has drained."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_infers_each_schema_once_per_session(spark, tmp_path):
    """Parquet schema inference is a Spark job; a second load of the
    same unchanged table reuses the first load's schema and launches
    none, and the frame it returns reads the same rows."""
    import shutil

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(f"{SF_SMOKE}/nation.parquet", sf / "nation.parquet")
    assert _jobs_launched(spark, lambda: load_table(spark, str(sf), "nation")) >= 1
    frames = []
    assert _jobs_launched(spark, lambda: frames.append(load_table(spark, str(sf), "nation"))) == 0
    want = load_table(spark, SF_SMOKE, "nation")
    assert frames[0].schema == want.schema
    assert sorted(map(tuple, frames[0].collect())) == sorted(map(tuple, want.collect()))


def test_load_table_sees_a_table_rewritten_in_place(spark, tmp_path):
    """The kept schema is keyed by the path's file listing: rewriting
    the table with an added column makes the next load infer again and
    see the column."""
    path = str(tmp_path / "sf" / "region.parquet")
    region = load_table(spark, SF_SMOKE, "region")
    region.write.parquet(path)
    before = load_table(spark, str(tmp_path / "sf"), "region")
    assert "r_extra" not in before.columns
    region.withColumn("r_extra", F.col("r_regionkey") * 2).write.mode("overwrite").parquet(path)
    after = load_table(spark, str(tmp_path / "sf"), "region")
    assert after.columns == region.columns + ["r_extra"]
    assert sorted(r.r_extra for r in after.collect()) == [0, 2, 4, 6, 8]


def test_load_table_self_join_matches_duckdb(spark):
    """Two loads of one table are two relations with their own
    attribute ids, so a self-join resolves and counts what DuckDB
    counts."""
    import duckdb

    from tests.conftest import SF_CORRECT

    a = load_table(spark, SF_CORRECT, "lineitem")
    b = load_table(spark, SF_CORRECT, "lineitem")
    got = a.join(b, a["l_orderkey"] == b["l_orderkey"]).count()
    p = f"{SF_CORRECT}/lineitem.parquet"
    want = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{p}') a JOIN read_parquet('{p}') b USING (l_orderkey)"
    ).fetchone()[0]
    assert got == want > 0


# Every DDL a ``local_frame`` call site passes, with rows of the shape
# that site builds (nested lists, tuples, Decimals, NULLs, no rows).
_LOCAL_FRAME_CASES = [
    ("n_input long, n_batch1 long, n_batch2 long, n_batch3_late long,"
     " n_dropped_groups long", [(10, 4, 3, 3, 1)]),
    ("event_id long, ts_us long, user_id long, event_type string, value double",
     [(-1, 1_700_000_000_000_000, -1, "purchase", 0.0), (-2, 1_700_086_400_000_000, -2, "click", 0.0)]),
    ("source string, _prior long", [("__none__", 0)]),
    ("source string, _prior long", list({"web": 3, "mail": 1}.items())),
    ("batch_id int, n_shingles long, n_novel long", [(0, 12, 5), (1, 7, None)]),
    ("vault_table string, hk bigint, hd bigint, load_epoch int", []),
    ("_cmat: array<array<double>>", [([[0.1, -0.2], [0.3, 0.4]],)]),
    ("_cm: array<array<double>>", [(((0.5, 0.25), (1.0, -1.0)),)]),
    ("_cn: array<double>", [([1.0, 0.5],)]),
    ("_sb: array<int>", [([0, 2, 1],)]),
    ("_qmat: array<array<bigint>>", [([[48, -3], [7, 0]],)]),
    ("_cb: array<array<array<double>>>", [([[[0.1, 0.2]], [[0.3, 0.4]]],)]),
    ("cluster int, cvec array<double>, cnorm2 double", [(0, [1.0, 2.0], 5.0), (1, [0.0, 0.0], 0.0)]),
    ("w array<double>", [([0.0, 0.0, 0.0, 0.0],)]),
    ("cluster bigint, cq array<bigint>", [(0, [1, -2, 3]), (1, [4, 5, -6])]),
    ("_pid int, _offset long", [(0, 0), (1, 17)]),
    ("doc_id bigint, cluster bigint", [(3, 1), (1, 1)]),
    ("doc_id string, cluster string", [("d3", "d1"), ("d1", "d1")]),
    ("rank long, left string, right string, merged string, pair_count long",
     [(1, "t", "h", "th", 9), (2, "th", "e", "the", 4)]),
    ("_pid int, _roff long, _voff decimal(38,4)",
     [(0, 0, Decimal(0)), (1, 5, Decimal("12345.6789"))]),
    ("total_rev double", [(12345.6789,)]),
    ("_pid int, _woff decimal(38,2)", [(0, Decimal(0)), (1, Decimal("98.76"))]),
    ("table_name string, n_rows bigint", [("dim_categoria", 150), ("dim_clasificacion", 5)]),
    ("n_rows long, revenue double, n_null_custkey long, max_orderkey long",
     [(1500, 2.5e8, 0, 60000)]),
    ("snapshot_date string", [("1995-01-01",), ("1997-06-30",)]),
    ("band string, lo double, hi double", [("low", 0.0, 20.0), ("high", 50.0, 1e18)]),
    ("planes: array<array<bigint>>", [([[1, -1, 0], [0, 1, 1]],)]),
    ("token string, est_count long, n_total long", [("the", 42, 900)]),
    ("token string", [("the",), ("of",)]),
]


@pytest.mark.parametrize("ddl,rows", _LOCAL_FRAME_CASES)
def test_local_frame_equals_create_dataframe(spark, ddl, rows):
    """local_frame gives the frame createDataFrame(rows, ddl) gives —
    same schema, same rows — as a LocalRelation: its physical plan is
    a LocalTableScan, not a scan of a Python RDD."""
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.lstrip().startswith("LocalTableScan"), plan


def test_local_frame_rejects_rows_of_the_wrong_width(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2, 3)], "a int, b int")
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2), (3,)], "a int, b int")


def test_driver_rows_reach_spark_only_through_local_frame():
    """Every frame over driver-held rows is built by local_frame: no
    ``createDataFrame(`` anywhere in the package outside it."""
    import inspect
    import pathlib

    import proceso_de_etl_spark
    from proceso_de_etl_spark.sources import local

    pkg = pathlib.Path(proceso_de_etl_spark.__file__).parent
    lines, start = inspect.getsourcelines(local_frame)
    span = range(start, start + len(lines))
    stray = [
        f"{path.relative_to(pkg)}:{no}"
        for path in sorted(pkg.rglob("*.py"))
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if "createDataFrame(" in line
        and not (path == pathlib.Path(inspect.getsourcefile(local)) and no in span)
    ]
    assert stray == []


@pytest.mark.parametrize(
    ("phys_gib", "want"),
    [(15, "7g"), (15.9, "7g"), (64, "16g"), (32, "16g"), (2, "1g"), (1, "1g")],
)
def test_default_driver_memory_is_half_physical_capped(monkeypatch, phys_gib, want):
    """The driver-heap default read from sysconf, no session started:
    half of physical memory in whole GiB, at most 16g, at least 1g."""
    from proceso_de_etl_spark import session

    page = 4096
    pages = int(phys_gib * 2**30) // page
    sysconf = {"SC_PHYS_PAGES": pages, "SC_PAGE_SIZE": page}
    monkeypatch.setattr(session.os, "sysconf", sysconf.__getitem__)
    assert session.default_driver_memory() == want


# ASCII, sharp s (upper expands), final sigma, Latin-1 accents, Kelvin
# sign, dotted capital I, a title-case digraph, CJK (no case)
CASE_SAMPLES = ["Hello, World 42", "straße", "ΟΣ", "À É Î", "\u212a", "\u0130", "X\u0130y", "ǆemal", "東京 タワー"]


def test_case_mapping_runs_on_the_jvm_with_icu_results(spark):
    """get_spark turns ICU case mapping off (its first use in a JVM
    builds a title-case table over every code point). lower and upper
    give the ICU rows on every sample. initcap lower-cases first and
    title-cases each word's first char on its own, so it parts from
    ICU only where lowering changes a word's first letter: U+212A
    (Kelvin) -> k -> K and U+0130 -> i + U+0307 -> I + U+0307, where
    ICU keeps both letters."""
    conf = "spark.sql.icu.caseMappings.enabled"
    assert spark.conf.get(conf) == "false"

    def mapped():
        df = local_frame(spark, [(s,) for s in CASE_SAMPLES], "s string")
        return {
            r.s: (r.lo, r.up, r.title)
            for r in df.select(
                "s", F.lower("s").alias("lo"), F.upper("s").alias("up"), F.initcap("s").alias("title")
            ).collect()
        }

    jvm = mapped()
    spark.conf.set(conf, "true")
    try:
        icu = mapped()
    finally:
        spark.conf.set(conf, "false")
    assert {s: m[:2] for s, m in jvm.items()} == {s: m[:2] for s, m in icu.items()}
    parted = {"\u212a": ("K", "\u212a"), "\u0130": ("I\u0307", "\u0130")}
    assert {s: (jvm[s][2], icu[s][2]) for s in parted} == parted
    assert {s: m[2] for s, m in jvm.items() if s not in parted} == {
        s: m[2] for s, m in icu.items() if s not in parted
    }
    assert jvm["X\u0130y"][0] == "xi\u0307y" and jvm["straße"][1] == "STRASSE"


@pytest.mark.parametrize("key", ["etl_partition_prune", "etl_dpp_join", "etl_atomic_write"])
def test_etl_read_backs_infer_no_schema(spark, monkeypatch, key):
    """The ETL keys read what they just wrote with the writer's schema,
    so nothing past the write infers one. The partitioned keys return
    a lazy frame and launch no job after their write; the atomic
    manifest launches exactly the jobs of its two schema'd counts."""
    import uuid

    from proceso_de_etl_spark.operators import etl
    from proceso_de_etl_spark.sources import atomic
    from proceso_de_etl_spark.sources import io as sources_io

    sc = spark.sparkContext
    after = f"after-write-{uuid.uuid4().hex}"
    written = []

    def then_regroup(fn):
        def wrapper(*args, **kwargs):
            out = fn(*args, **kwargs)
            written.append(args)
            sc.setJobGroup(after, after)
            return out

        return wrapper

    monkeypatch.setattr(sources_io, "write_parquet", then_regroup(sources_io.write_parquet))
    monkeypatch.setattr(atomic, "atomic_write_tables", then_regroup(atomic.atomic_write_tables))
    try:
        getattr(etl, key)(spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(after))
    assert len(written) == 1
    if key != "etl_atomic_write":
        assert jobs == 0
        return
    root, dims = written[0]
    counts = _jobs_launched(
        spark,
        lambda: [spark.read.schema(df.schema).parquet(f"{root}/{n}").count() for n, df in dims.items()],
    )
    assert jobs == counts > 0

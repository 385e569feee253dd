"""End-to-end Engine tests: tenant registration, auth, filename gate,
ingest → fact parquet, budget report, full export, listing."""

import csv

import pytest


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    from city_payroll_data_pipeline_spark.engine import Engine

    root = str(tmp_path_factory.mktemp("warehouse"))
    eng = Engine(spark, root)
    eng.registry.register("ACME", "corporate", "secret")
    return eng


@pytest.fixture(scope="module")
def corporate_csv(tmp_path_factory):
    from city_payroll_data_pipeline_spark.schemas import CORPORATE_RAW_COLUMNS

    path = str(tmp_path_factory.mktemp("upload") / "corporate_payroll_2013.csv")
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(CORPORATE_RAW_COLUMNS)
        w.writerow(["1", "2013", "Police", "Officer", "FT", "$100.00", "$10.00", "$5.00", "$1.00"])
        w.writerow(["2", "2013", "Police", "Officer", "FT", "$200.00", "", "", ""])
        w.writerow(["3", "2013", "Fire", "Captain", "FT", "$300.00", "$90.00", "", ""])
    return path


def test_ingest_and_report(engine, corporate_csv):
    engine.ingest("ACME", "secret", corporate_csv, processed_at="2024-06-01T00:00:00")
    rpt = engine.budget_report("ACME", "secret", corporate_csv).collect()
    by_title = {r["job_title"]: r for r in rpt}
    assert by_title["Officer"]["total_employee"] == 2
    assert by_title["Officer"]["total_budget"] == pytest.approx(116.0 + 200.0)
    assert by_title["Captain"]["total_budget"] == pytest.approx(390.0)
    # ordered costliest-first
    assert rpt[0]["job_title"] == "Captain"


def test_full_export_ordered(engine, corporate_csv):
    exp = engine.full_export("ACME", "secret", corporate_csv).collect()
    assert [r["job_title"] for r in exp] == ["Captain", "Officer", "Officer"]


def test_listing(engine, corporate_csv):
    files = engine.list_files("ACME", "secret", "Clean")
    assert files == ["ACME_corporate_corporate_payroll_2013"]
    assert engine.list_files("ACME", "secret", "Raw") == ["corporate_payroll_2013.csv"]


def test_auth_gate(engine, corporate_csv):
    from city_payroll_data_pipeline_spark.sources.tenancy import AuthError

    with pytest.raises(AuthError):
        engine.ingest("ACME", "wrong", corporate_csv)
    with pytest.raises(AuthError):
        engine.ingest("GHOST", "secret", corporate_csv)


def test_filename_gate(engine, tmp_path):
    from city_payroll_data_pipeline_spark.sources.tenancy import ValidationError

    bad = tmp_path / "random_data.csv"
    bad.write_text("a,b\n1,2\n")
    with pytest.raises(ValidationError):
        engine.ingest("ACME", "secret", str(bad))


def test_kpi_stats_layer(engine, corporate_csv):
    from city_payroll_data_pipeline_spark.operators.reports import (
        clean_report,
        kpi_stats,
        top_k,
    )

    rpt = engine.budget_report("ACME", "secret", corporate_csv)
    stats = kpi_stats(clean_report(rpt)).collect()[0]
    assert stats["sum_total_employee"] == 3.0
    assert stats["n_positions"] == 2
    assert stats["max_budget"] == pytest.approx(390.0)
    assert stats["median_budget"] == pytest.approx((316.0 + 390.0) / 2)
    assert top_k(rpt, 1).collect()[0]["job_title"] == "Captain"


def test_compact_parquet_small_files(spark, tmp_path):
    """Compaction rewrites many small files into few, preserving rows;
    the temp/backup dirs are cleaned up."""
    import os

    from city_payroll_data_pipeline_spark.sources.sinks import compact_parquet

    path = str(tmp_path / "frag")
    df = spark.range(10_000).withColumnRenamed("id", "v")
    df.repartition(32).write.parquet(path)
    before = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(before) == 32

    n = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert n == 1
    after = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(after) == 1
    got = spark.read.parquet(path)
    assert got.count() == 10_000
    assert got.agg({"v": "sum"}).collect()[0][0] == sum(range(10_000))
    assert not os.path.exists(path + "._compact_tmp")
    assert not os.path.exists(path + "._compact_bak")


def test_compact_parquet_recovers_from_crashed_swap(spark, tmp_path):
    """The two-rename swap is not atomic. Simulate each crash window
    and assert the next compaction self-repairs instead of 404ing
    readers or failing on leftover directories."""
    import os
    import shutil

    from city_payroll_data_pipeline_spark.sources.sinks import compact_parquet

    path = str(tmp_path / "tbl")
    spark.range(1000).withColumnRenamed("id", "v").repartition(
        8
    ).write.parquet(path)

    # window (b): crashed between the renames — data parked at bak,
    # live dir missing, completed tmp also present
    shutil.copytree(path, path + "._compact_tmp")
    os.rename(path, path + "._compact_bak")
    assert not os.path.isdir(path)
    n = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert n == 1
    assert spark.read.parquet(path).count() == 1000
    assert not os.path.exists(path + "._compact_bak")
    assert not os.path.exists(path + "._compact_tmp")

    # window (c): crashed after the swap — stale backup next to a
    # healthy live dir must not fail the next run's rename
    shutil.copytree(path, path + "._compact_bak")
    n = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert n == 1
    assert spark.read.parquet(path).count() == 1000
    assert not os.path.exists(path + "._compact_bak")


def test_zorder_bits_capped_no_sign_bit(spark, tmp_path):
    """4+ interleaved columns at the default 16 bits would reach the
    bigint sign bit (and 5 columns would wrap shift amounts mod 64);
    the cap keeps every Morton key non-negative so range partitioning
    orders large keys last, not first."""
    from pyspark.sql import functions as F

    from city_payroll_data_pipeline_spark.sources.sinks import zorder_value

    df = spark.range(100).select(
        F.col("id").cast("double").alias("a"),
        (99 - F.col("id")).cast("double").alias("b"),
        (F.col("id") % 7).cast("double").alias("c"),
        (F.col("id") % 11).cast("double").alias("d"),
        (F.col("id") % 13).cast("double").alias("e"),
    )
    for cols in (["a", "b", "c", "d"], ["a", "b", "c", "d", "e"]):
        zs = df.select(
            zorder_value(
                [F.col(c) for c in cols],
                [0.0] * len(cols),
                [99.0] * len(cols),
            ).alias("z")
        ).collect()
        assert all(r["z"] >= 0 for r in zs), cols
        assert len({r["z"] for r in zs}) > 1  # still discriminates


def test_concurrent_tenant_ingest(spark, tmp_path):
    """Two tenants ingest in parallel threads — the engine needs no
    global transform lock (the reference serializes all uploads behind
    one; Spark schedules concurrent jobs, and tenant isolation is by
    storage path)."""
    import csv
    import threading

    from city_payroll_data_pipeline_spark.engine import Engine
    from city_payroll_data_pipeline_spark.schemas import CORPORATE_RAW_COLUMNS

    eng = Engine(spark, str(tmp_path / "wh"))
    errors = []

    def ingest(client):
        try:
            eng.registry.register(client, "corporate", "pw")
            p = tmp_path / f"{client}_corporate.csv"
            with open(p, "w", newline="") as f:
                w = csv.writer(f)
                w.writerow(CORPORATE_RAW_COLUMNS)
                for i in range(50):
                    w.writerow([str(i), "2024", "D", f"T{i % 5}", "FT",
                                f"${i}.00", "$1.00", "$0", "$2.00"])
            eng.ingest(client, "pw", str(p))
        except Exception as e:  # noqa: BLE001 - surfaced via assert below
            errors.append((client, e))

    threads = [
        threading.Thread(target=ingest, args=(c,)) for c in ("T_A", "T_B", "T_C")
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    for c in ("T_A", "T_B", "T_C"):
        assert eng.budget_report(c, "pw", f"{c}_corporate.csv").count() == 5


def test_registry_persists_across_restarts(spark, tmp_path):
    """Registrations survive a new Engine over the same storage root
    (users.json parity with the reference)."""
    from city_payroll_data_pipeline_spark.engine import Engine
    from city_payroll_data_pipeline_spark.sources.tenancy import AuthError

    root = str(tmp_path / "wh2")
    Engine(spark, root).registry.register("PERS", "corporate", "pw")

    fresh = Engine(spark, root)
    t = fresh.registry.authenticate("PERS", "pw")
    assert t.industry == "corporate"
    import pytest as _pytest

    with _pytest.raises(AuthError):
        fresh.registry.authenticate("PERS", "wrong")


def test_write_sorted_parquet_disjoint_file_ranges(spark, tmp_path):
    """Range-partitioned sorted writes give each file a disjoint key
    range (tight min/max footers -> whole-file pruning)."""
    from pyspark.sql import functions as F

    from city_payroll_data_pipeline_spark.sources.sinks import (
        write_sorted_parquet,
    )

    path = str(tmp_path / "sorted")
    df = spark.range(10_000).select(
        (F.col("id") * 7919 % 10_000).alias("k"),  # scrambled key
        F.col("id").alias("v"),
    )
    write_sorted_parquet(df, path, ["k"], n_files=4)

    per_file = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
        .collect()
    )
    assert len(per_file) == 4
    ranges = sorted((r["lo"], r["hi"]) for r in per_file)
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, ranges  # disjoint, ordered ranges
    assert spark.read.parquet(path).count() == 10_000


def test_adhoc_sql_over_tenant_upload(engine, corporate_csv):
    """Engine.sql: ad-hoc queries over the upload's fct view (beyond
    the reference's two fixed queries), auth-gated."""
    import pytest as _pytest

    engine.ingest("ACME", "secret", corporate_csv, processed_at="2024-06-01T00:00:00")
    out = engine.sql(
        "ACME", "secret", corporate_csv,
        """SELECT department, COUNT(*) AS n,
                  SUM(total_amount) AS dept_budget
           FROM fct GROUP BY department ORDER BY dept_budget DESC""",
    ).collect()
    assert [r["department"] for r in out] == ["Fire", "Police"]
    assert out[0]["dept_budget"] == _pytest.approx(390.0)
    assert out[1]["n"] == 2
    # wrong password never reaches the view registration
    with _pytest.raises(PermissionError):
        engine.sql("ACME", "wrong", corporate_csv, "SELECT 1")


def test_sql_blocks_direct_path_addressing(engine, corporate_csv):
    """runSQLOnFiles is disabled in the per-call subsession: a tenant
    cannot read arbitrary paths (another tenant's parquet, or the
    users.json registry with password hashes) via file-format tables."""
    from pyspark.errors import AnalysisException

    engine.ingest("ACME", "secret", corporate_csv, processed_at="2024-06-01T00:00:00")
    clean = engine.registry.clean_path("ACME", corporate_csv)
    users = engine.registry._users_path
    for escape in (
        f"SELECT * FROM parquet.`{clean}/fct_corporate`",
        f"SELECT * FROM json.`{users}`",
    ):
        with pytest.raises(AnalysisException):
            engine.sql("ACME", "secret", corporate_csv, escape).collect()
    # the engine's own session is untouched by the per-call conf
    assert engine.spark.conf.get("spark.sql.runSQLOnFiles") != "false"


def test_sql_blocks_ddl_catalog_escape(engine, corporate_csv):
    """newSession() shares the PERSISTENT catalog, so an unchecked
    CREATE TABLE ... USING parquet LOCATION would re-open the path
    escape runSQLOnFiles closes (and SET could re-enable
    runSQLOnFiles itself). Every non-query statement must be rejected
    at parse time; plain SELECTs still work."""
    from city_payroll_data_pipeline_spark.sources.tenancy import (
        ValidationError,
    )

    engine.ingest(
        "ACME", "secret", corporate_csv, processed_at="2024-06-01T00:00:00"
    )
    clean = engine.registry.clean_path("ACME", corporate_csv)
    for ddl in (
        f"CREATE TABLE leak USING parquet LOCATION '{clean}/fct_corporate'",
        "SET spark.sql.runSQLOnFiles=true",
        "DROP TABLE IF EXISTS anything",
        "CACHE TABLE fct",
        "SHOW TABLES",
        "CREATE TEMPORARY VIEW v AS SELECT 1",
        "INSERT INTO fct VALUES (1)",
    ):
        with pytest.raises(ValidationError):
            engine.sql("ACME", "secret", corporate_csv, ddl)
    # queries still pass: plain, WITH-prefixed, and VALUES
    assert engine.sql(
        "ACME", "secret", corporate_csv,
        "WITH t AS (SELECT count(*) AS n FROM fct) SELECT n FROM t",
    ).collect()[0]["n"] > 0


def test_list_files_rejects_traversal(engine, corporate_csv):
    """The Flight list_files action forwards a caller-supplied subdir:
    '..' segments and absolute paths must be rejected, not listed."""
    from city_payroll_data_pipeline_spark.sources.tenancy import (
        ValidationError,
    )

    engine.ingest(
        "ACME", "secret", corporate_csv, processed_at="2024-06-01T00:00:00"
    )
    assert engine.registry.list_files("ACME", "Clean")  # sane call works
    for subdir in ("../OTHER/Clean", "..", "/etc", "Clean/../../.."):
        with pytest.raises(ValidationError):
            engine.registry.list_files("ACME", subdir)


def test_sql_concurrent_tenants_no_view_race(engine, spark, tmp_path_factory):
    """Two tenants issuing interleaved Engine.sql calls from threads:
    each call's fct view is private to its newSession(), so neither
    tenant can ever observe the other's row count."""
    import threading

    from city_payroll_data_pipeline_spark.schemas import CORPORATE_RAW_COLUMNS

    up = tmp_path_factory.mktemp("uploads2")
    sizes = {"T_ONE": 3, "T_TWO": 5}
    paths = {}
    for cid, n in sizes.items():
        engine.registry.register(cid, "corporate", "pw")
        p = str(up / f"corporate_{cid.lower()}.csv")
        with open(p, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(CORPORATE_RAW_COLUMNS)
            for i in range(n):
                w.writerow(
                    [str(i), "2013", "Dept", f"Role{i}", "FT",
                     f"${100 + i}.00", "", "", ""]
                )
        engine.ingest(cid, "pw", p, processed_at="2024-06-01T00:00:00")
        paths[cid] = p

    errors = []

    def worker(cid):
        try:
            for _ in range(8):
                n = engine.sql(
                    cid, "pw", paths[cid], "SELECT COUNT(*) AS n FROM fct"
                ).collect()[0]["n"]
                if n != sizes[cid]:
                    errors.append(f"{cid}: saw {n}, expected {sizes[cid]}")
        except Exception as e:  # pragma: no cover - surfaced via errors
            errors.append(f"{cid}: {e!r}")

    threads = [threading.Thread(target=worker, args=(cid,)) for cid in sizes]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors


def _write_csv(path, header, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)
    return str(path)


_CANONICAL_ROW = {
    "corporate": ["1", "2013", "Police", "Officer", "FT", "$100.00", "$90.00", "", ""],
    "education": ["Doe", "Jane", "D1", "S1", "Teacher", "1.0", "5", "A", "50000"],
    "hospital": ["Cedars-Sinai", "Los Angeles", "CA", "470 - JOINT", "2", "100.5", "90.0"],
}


@pytest.mark.parametrize("industry", sorted(_CANONICAL_ROW))
def test_ingest_accepts_canonical_header(spark, tmp_path, industry):
    """Each industry's canonical header (hospital's space-padded names
    included) passes the reader's header check."""
    from city_payroll_data_pipeline_spark.engine import RAW_COLUMNS, Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.registry.register("T", industry, "pw")
    path = _write_csv(
        tmp_path / f"{industry}_upload.csv",
        RAW_COLUMNS[industry],
        [_CANONICAL_ROW[industry]],
    )
    eng.ingest("T", "pw", path)
    assert eng.fact_table("T", "pw", path).count() == 1


@pytest.mark.parametrize("case", ["swapped", "missing"])
def test_ingest_rejects_nonconforming_header(spark, tmp_path, case):
    """A header that does not name the industry's columns in order must
    fail the ingest, not shift values into the wrong fields: with
    `Overtime Pay` before `Base Pay`, the row below would otherwise land
    as base 90 / overtime 100 and read as 'High Overtime'."""
    from city_payroll_data_pipeline_spark.engine import Engine
    from city_payroll_data_pipeline_spark.schemas import CORPORATE_RAW_COLUMNS

    header = list(CORPORATE_RAW_COLUMNS)
    row = ["1", "2013", "Police", "Officer", "FT", "$90.00", "$100.00", "", ""]
    i, j = header.index("Overtime Pay"), header.index("Base Pay")
    if case == "swapped":
        header[i], header[j] = header[j], header[i]
    else:
        del header[i], row[i]
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.registry.register("T", "corporate", "pw")
    path = _write_csv(tmp_path / "corporate_upload.csv", header, [row])
    with pytest.raises(Exception, match="CSV header does not conform"):
        eng.ingest("T", "pw", path)

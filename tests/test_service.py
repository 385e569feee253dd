"""Arrow Flight facade round-trip: client upload → Spark transform →
report/export/listing back over gRPC (transport parity with the
reference server; queries still run in Spark)."""

import csv

import pytest


@pytest.fixture(scope="module")
def flight_setup(spark, tmp_path_factory):
    from city_payroll_data_pipeline_spark.engine import Engine
    from city_payroll_data_pipeline_spark.service import (
        PayrollFlightClient,
        PayrollFlightServer,
    )

    wh = tmp_path_factory.mktemp("flight_wh")
    engine = Engine(spark, str(wh))
    engine.registry.register("ACME", "corporate", "s3cret")
    server = PayrollFlightServer(engine, "grpc://127.0.0.1:0")
    client = PayrollFlightClient(f"grpc://127.0.0.1:{server.port}")
    yield engine, server, client, tmp_path_factory.mktemp("flight_csv")
    server.shutdown()


def test_flight_upload_report_roundtrip(flight_setup):
    from city_payroll_data_pipeline_spark.schemas import CORPORATE_RAW_COLUMNS

    _, _, client, csv_dir = flight_setup
    path = csv_dir / "corporate_payroll.csv"
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(CORPORATE_RAW_COLUMNS)
        w.writerow(["1", "2024", "Police", "Officer", "FT",
                    "$100.00", "$10.00", "$0.00", "$5.00"])
        w.writerow(["2", "2024", "Police", "Officer", "FT",
                    "$200.00", "$0.00", "$0.00", "$5.00"])
        w.writerow(["3", "2024", "Fire", "Captain", "FT",
                    "$300.00", "$90.00", "$0.00", "$5.00"])

    client.upload_csv(str(path), "ACME", "s3cret")

    report = client.get_budget_report("ACME", "s3cret", "corporate_payroll.csv")
    by_title = report.set_index("job_title")
    assert by_title.loc["Officer", "total_employee"] == 2
    assert by_title.loc["Officer", "total_budget"] == pytest.approx(320.0)
    # ordered by total_budget desc (reference serve_flight.py:295)
    assert report["total_budget"].is_monotonic_decreasing

    full = client.get_full_data("ACME", "s3cret", "corporate_payroll.csv")
    assert len(full) == 3
    assert list(full["job_title"]) == sorted(full["job_title"])  # ORDER BY job_title

    files = client.list_files("ACME", "s3cret", "Clean")
    assert any("corporate_payroll" in f for f in files)


def test_flight_rejects_bad_credentials(flight_setup):
    import pyarrow.flight as flight

    _, _, client, _ = flight_setup
    with pytest.raises(flight.FlightError):
        client.get_budget_report("ACME", "wrong", "corporate_payroll.csv")


def test_flight_rejects_wrong_industry_filename(flight_setup):
    import pyarrow as pa
    import pyarrow.flight as flight

    from city_payroll_data_pipeline_spark.schemas import CORPORATE_RAW_COLUMNS

    _, _, client, csv_dir = flight_setup
    path = csv_dir / "hospital_data.csv"  # ACME is a corporate tenant
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(CORPORATE_RAW_COLUMNS)
        w.writerow(["1", "2024", "X", "Y", "FT", "$1", "$0", "$0", "$0"])
    # ValidationError surfaces as gRPC INVALID_ARGUMENT → ArrowInvalid
    with pytest.raises((flight.FlightError, pa.ArrowInvalid)):
        client.upload_csv(str(path), "ACME", "s3cret")


def test_report_error_mapping_friendly(spark, tmp_path):
    """Missing fact data and bad credentials surface as friendly Flight
    errors, not raw engine stack traces (reference serve_flight.py:309-312)."""
    import json

    import pyarrow.flight as flight
    import pytest

    from city_payroll_data_pipeline_spark.engine import Engine
    from city_payroll_data_pipeline_spark.service import PayrollFlightServer

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.registry.register("T1", "corporate", "pw")
    server = PayrollFlightServer(eng)
    try:
        client = flight.FlightClient(f"grpc://localhost:{server.port}")

        def get(action, password="pw", target="corporate_nope.csv"):
            t = flight.Ticket(json.dumps({
                "action": action, "client_id": "T1",
                "password": password, "target_file": target,
            }).encode())
            return client.do_get(t).read_all()

        with pytest.raises(flight.FlightServerError, match="not processed yet"):
            get("get_budget_report")
        with pytest.raises(flight.FlightError, match="authentication failed"):
            get("get_budget_report", password="wrong")
    finally:
        server.shutdown()


def test_stream_result_preserves_order_across_part_files(spark):
    """_stream_result egresses a multi-partition sorted result — the
    batch stream must replay the GLOBAL sort order (partition index
    order == range-partition order) and never hold the full result."""
    from city_payroll_data_pipeline_spark.service import egress_batches

    df = spark.range(0, 10_000).orderBy("id")  # sorted → many range parts
    schema, batches = egress_batches(df)
    got = []
    for batch in batches:
        got.extend(batch.column(0).to_pylist())
    assert got == list(range(10_000))

    # empty result: zero rows out, schema intact
    empty_schema, empty_iter = egress_batches(df.where("id < 0"))
    assert "id" in empty_schema.names
    assert sum(b.num_rows for b in empty_iter) == 0


def _sorted_8_partitions(spark):
    # an explicit partition count: AQE does not coalesce it
    return spark.range(0, 80_000).repartitionByRange(8, "id").sortWithinPartitions("id")


def test_egress_holds_at_most_two_partitions(spark):
    """The egress is partition-at-a-time: when the first batch of a
    sorted 8-partition result arrives, at most 2 result-partition jobs
    (the partition streamed and the one prefetched) have started, so
    the driver never holds more than two partitions. All 8 run by the
    end. Fails loudly if a Spark upgrade moves the private entry points
    ``egress_batches`` uses."""
    from city_payroll_data_pipeline_spark.service import egress_batches

    sc = spark.sparkContext
    group = "test-egress-two-partitions"

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    sc.setJobGroup(group, group)
    try:
        _, batches = egress_batches(_sorted_8_partitions(spark))
        # the range sampling and shuffle jobs run when the stream is set up
        before = jobs()
        got = next(batches).column(0).to_pylist()
        assert 1 <= jobs() - before <= 2
        for batch in batches:
            got.extend(batch.column(0).to_pylist())
        assert got == list(range(80_000))
        assert jobs() - before == 8
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_abandoned_egress_stream_releases_jvm_server(spark):
    """A client that stops after one batch: closing the generator tells
    the JVM thread serving the partitions to stop, and the next egress
    completes."""
    import time

    from city_payroll_data_pipeline_spark.service import egress_batches

    jvm_thread = spark.sparkContext._jvm.java.lang.Thread

    def serving():
        return sum(
            t.getName() == "serve toLocalIterator" and t.isAlive()
            for t in jvm_thread.getAllStackTraces().keySet().toArray()
        )

    base = serving()
    _, batches = egress_batches(_sorted_8_partitions(spark))
    next(batches)
    assert serving() == base + 1
    batches.close()
    deadline = time.monotonic() + 30
    while serving() > base and time.monotonic() < deadline:
        time.sleep(0.1)
    assert serving() == base

    _, again = egress_batches(spark.range(0, 1_000).orderBy("id"))
    assert [v for b in again for v in b.column(0).to_pylist()] == list(range(1_000))


# ``processed_at`` reaches clients as naive ``timestamp[ns]`` (UTC), the
# type older clients were built against.
_REPORT_WIRE = [
    ("job_title", "string", True),
    ("total_employee", "int64", False),
    ("total_budget", "double", True),
]
_EXPORT_WIRE = {
    "corporate": [
        ("row_id", "string", True), ("year", "string", True),
        ("department", "string", True), ("job_title", "string", True),
        ("base_pay", "double", True), ("overtime_pay", "double", True),
        ("total_amount", "double", True), ("overtime_status", "string", True),
        ("loyalty_bonus_percentage", "double", True),
        ("processed_at", "timestamp[ns]", True),
    ],
    "education": [
        ("district_name", "string", True), ("school_name", "string", True),
        ("job_title", "string", True), ("base_salary", "double", True),
        ("fte_ratio", "double", True), ("experience_years", "double", True),
        ("employment_status", "string", True), ("seniority_bonus", "double", True),
        ("total_amount", "double", True),
        ("cost_per_experience_year", "double", True),
        ("processed_at", "timestamp[ns]", True),
    ],
    "hospital": [
        ("hospital_name", "string", True), ("job_title", "string", True),
        ("city", "string", True), ("state", "string", True),
        ("total_patients", "int32", True),
        ("avg_payment_per_patient", "double", True),
        ("total_amount", "double", True),
        ("processed_at", "timestamp[ns]", True),
    ],
}
_WIRE_ROWS = {
    "corporate": ["1", "2024", "Police", "Officer", "FT", "$100.00", "$90.00", "", ""],
    "education": ["Doe", "Jane", "D1", "S1", "Teacher", "1.0", "5", "A", "50000"],
    "hospital": ["Cedars-Sinai", "Los Angeles", "CA", "470 - JOINT", "2", "100.5", "90.0"],
}


@pytest.fixture(scope="module")
def wire_tenants(flight_setup):
    """One upload per industry, each by its own tenant."""
    from city_payroll_data_pipeline_spark.engine import RAW_COLUMNS

    engine, _, client, csv_dir = flight_setup
    for industry, row in _WIRE_ROWS.items():
        engine.registry.register(f"WIRE_{industry}", industry, "pw")
        path = csv_dir / f"{industry}_wire.csv"
        with open(path, "w", newline="") as f:
            csv.writer(f).writerows([RAW_COLUMNS[industry], row])
        client.upload_csv(str(path), f"WIRE_{industry}", "pw")
    return client


@pytest.mark.parametrize("action", ["get_budget_report", "get_full_clean"])
@pytest.mark.parametrize("industry", sorted(_WIRE_ROWS))
def test_flight_wire_schema_pinned(wire_tenants, industry, action):
    """The Arrow schema a client reads is part of the wire contract:
    names, types and nullability of the report and the export, per
    industry."""
    import json

    import pyarrow.flight as flight

    ticket = flight.Ticket(json.dumps({
        "action": action, "client_id": f"WIRE_{industry}", "password": "pw",
        "target_file": f"{industry}_wire.csv",
    }).encode())
    table = wire_tenants.client.do_get(ticket).read_all()
    got = [(f.name, str(f.type), f.nullable) for f in table.schema]
    want = _REPORT_WIRE if action == "get_budget_report" else _EXPORT_WIRE[industry]
    assert got == want
    assert table.num_rows == 1


def test_do_put_raw_csv_matches_pandas_writer(flight_setup, tmp_path):
    """do_put writes the Raw CSV with pyarrow, which quotes every string
    and writes an empty string as ``""`` (pandas wrote bare fields). A
    quoted comma, a null cell and an empty-string cell ingest to the
    same fact rows as the CSV that pandas wrote."""
    import json

    import pyarrow as pa
    import pyarrow.flight as flight

    from city_payroll_data_pipeline_spark.schemas import CORPORATE_RAW_COLUMNS

    engine, _, client, _ = flight_setup
    rows = [
        ["1", "2024", "Police, Metro", "Officer, Senior", "FT",
         "$1,100.00", "$10.00", "$0.00", "$5.00"],
        ["2", "2024", "", "Officer, Senior", "FT", "$200.00", None, "$0.00", ""],
        ["3", "2024", None, "Captain", "", "$300.00", "$90.00", "", "$5.00"],
    ]
    table = pa.table(
        [pa.array(col, pa.string()) for col in zip(*rows)],
        names=CORPORATE_RAW_COLUMNS,
    )
    name = "corporate_quoting.csv"
    meta = json.dumps({"client_id": "ACME", "password": "s3cret", "filename": name})
    writer, _ = client.client.do_put(flight.FlightDescriptor.for_path(meta), table.schema)
    writer.write_table(table)
    writer.close()

    pandas_csv = tmp_path / "corporate_quoting_pandas.csv"
    table.to_pandas().to_csv(pandas_csv, index=False)
    engine.ingest("ACME", "s3cret", str(pandas_csv))

    def fact_rows(basename):
        df = engine.fact_table("ACME", "s3cret", basename).drop("processed_at")
        return sorted(tuple(r) for r in df.collect())

    got = fact_rows(name)
    assert len(got) == 3
    assert got == fact_rows(pandas_csv.name)

"""Arrow Flight service facade — transport parity with the reference.

The reference serves its engine over Arrow Flight gRPC (reference
serve_flight.py:21 ``class BusinessSolutionServer(flight.FlightServerBase)``):
``do_put`` ingests CSV uploads (serve_flight.py:81), ``do_get`` serves
the two report queries (serve_flight.py:234,291,295), and ``do_action``
lists tenant files (serve_flight.py:337). This module reproduces that
wire surface as a THIN adapter over :class:`engine.Engine` — transport
only; every query executes in Spark, and results stream back as a
partition-at-a-time Arrow stream of the executors' record batches
(columnar end to end; the driver holds at most two partitions).

Scale note: Flight is a single-node ingress/egress door, fine for
reports (small) and per-tenant uploads (bounded). Bulk data belongs on
the parquet path, not the gRPC path — the reference's own design, kept
deliberately.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.csv as pa_csv
import pyarrow.flight as flight
from pyspark.errors import AnalysisException

from city_payroll_data_pipeline_spark.engine import Engine
from city_payroll_data_pipeline_spark.sources.tenancy import AuthError


def egress_batches(df):
    """Memory-bounded egress: a partition-at-a-time Arrow stream. The
    executors encode each result partition as Arrow record batches
    (``toArrowBatchRdd``), and ``PythonRDD.toLocalIteratorAndServe``
    serves one partition per job with the next one prefetched, so the
    driver holds at most two partitions, never the whole result.
    Partitions arrive in index order, and a sorted result is
    range-partitioned by its sort, so the stream is in global order.

    Returns ``(schema, batch_iterator)``. Time-zoned timestamps go out
    as naive ``timestamp[ns]`` (UTC), the wire type clients are pinned
    to. Closing the iterator stops the JVM side. The entry points
    (``_jdf.toArrowBatchRdd``, ``PythonRDD``, ``pyspark.util.
    _local_iterator_from_socket``) are private Spark API;
    tests/test_service.py fails loudly if an upgrade moves them."""
    from pyspark.serializers import NoOpSerializer
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.util import _local_iterator_from_socket

    session = df.sparkSession
    schema = to_arrow_schema(
        df.schema, prefers_large_types=session._jconf.arrowUseLargeVarTypes()
    )
    wire = pa.schema(
        f.with_type(pa.timestamp("ns"))
        if pa.types.is_timestamp(f.type) and f.type.tz is not None else f
        for f in schema
    )
    sock_info = session.sparkContext._jvm.PythonRDD.toLocalIteratorAndServe(
        df._jdf.toArrowBatchRdd(), True
    )
    frames = _local_iterator_from_socket(sock_info, NoOpSerializer())

    def batches():
        try:
            for buf in frames:
                yield pa.ipc.read_record_batch(buf, schema).cast(wire)
        finally:
            frames.close()  # frees the iterable; its __del__ stops the JVM side

    return wire, batches()


class PayrollFlightServer(flight.FlightServerBase):
    """do_put: CSV upload+transform; do_get: budget report / full
    export; do_action list_files — the reference's action set."""

    def __init__(self, engine: Engine, location: str = "grpc://0.0.0.0:0"):
        super().__init__(location)
        self.engine = engine

    # -- ingest (reference serve_flight.py:81-221) --------------------

    def do_put(self, context, descriptor, reader, writer):
        meta = json.loads(descriptor.path[0].decode())
        client_id = meta["client_id"]
        password = meta["password"]
        filename = os.path.basename(meta["filename"])

        table = reader.read_all()  # bulk transfer, like reference :148
        self.engine.registry.authenticate(client_id, password)
        self.engine.registry.validate_filename(client_id, filename)
        raw_dir = self.engine.registry.storage_path(client_id, "Raw")
        os.makedirs(raw_dir, exist_ok=True)
        raw_path = os.path.join(raw_dir, filename)
        pa_csv.write_csv(table, raw_path)
        self.engine.ingest(client_id, password, raw_path)

    # -- reports (reference serve_flight.py:234-330) ------------------

    def do_get(self, context, ticket):
        req = json.loads(ticket.ticket.decode())
        action = req["action"]
        client_id, password = req["client_id"], req["password"]
        target = req["target_file"]
        try:
            if action == "get_budget_report":
                df = self.engine.budget_report(client_id, password, target)
            elif action == "get_full_clean":
                df = self.engine.full_export(client_id, password, target)
            else:
                raise flight.FlightServerError(f"unknown action: {action}")
        except AnalysisException as e:
            # catalog/binder error mapping parity (reference
            # serve_flight.py:309-312: CatalogException → friendly
            # "not found / not processed yet" instead of a raw
            # engine stack trace on the wire)
            raise flight.FlightServerError(
                f"data for {target!r} not found or not processed yet"
            ) from e
        except AuthError as e:
            raise flight.FlightUnauthenticatedError(str(e)) from e
        return self._stream_result(df)

    def _stream_result(self, df):
        schema, batches = egress_batches(df)
        return flight.GeneratorStream(schema, batches)

    # -- listings (reference serve_flight.py:337-366) -----------------

    def do_action(self, context, action):
        if action.type != "list_files":
            raise flight.FlightServerError(f"unknown action: {action.type}")
        req = json.loads(action.body.to_pybytes().decode())
        files = self.engine.list_files(
            req["client_id"], req["password"], req.get("subdir", "Clean")
        )
        yield flight.Result(json.dumps(sorted(files)).encode())


class PayrollFlightClient:
    """Client twin (reference web_dashboard/backend_client.py)."""

    def __init__(self, location: str):
        self.client = flight.FlightClient(location)

    def upload_csv(self, csv_path: str, client_id: str, password: str) -> None:
        import pandas as pd

        pdf = pd.read_csv(csv_path, dtype=str)  # all-string, like :97
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        meta = json.dumps(
            {
                "client_id": client_id,
                "password": password,
                "filename": os.path.basename(csv_path),
            }
        )
        descriptor = flight.FlightDescriptor.for_path(meta)
        writer, _ = self.client.do_put(descriptor, table.schema)
        writer.write_table(table)
        writer.close()

    def _get(self, action: str, client_id: str, password: str, target: str):
        ticket = flight.Ticket(
            json.dumps(
                {
                    "action": action,
                    "client_id": client_id,
                    "password": password,
                    "target_file": target,
                }
            ).encode()
        )
        return self.client.do_get(ticket).read_all().to_pandas()

    def get_budget_report(self, client_id, password, target):
        return self._get("get_budget_report", client_id, password, target)

    def get_full_data(self, client_id, password, target):
        return self._get("get_full_clean", client_id, password, target)

    def list_files(self, client_id, password, subdir="Clean"):
        body = json.dumps(
            {"client_id": client_id, "password": password, "subdir": subdir}
        ).encode()
        results = self.client.do_action(flight.Action("list_files", body))
        return json.loads(next(iter(results)).body.to_pybytes().decode())

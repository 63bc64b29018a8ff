"""S10 — thin HTTP serving layer over a compiled pipeline.

The reference serves one-record pipeline runs over FastAPI + uvicorn
(``apps/poc-codaact-tableqa/tableqa_codeact.py:300-341``: CORS middleware,
``GET /get_models``, a POST endpoint that feeds one record through the
pipeline and returns its state). This engine's equivalent is deliberately
OFF the data plane: a stdlib ``ThreadingHTTPServer`` wrapper on the DRIVER
that builds a one-row DataFrame per request and binds it to the same
compiled pipeline the batch path runs — no extra dependency
(FastAPI/uvicorn aren't in this environment), no change to any Spark plan,
and the batch/serving results are identical by construction because both
are :func:`~instructionspipe_spark.plans.compiler.compile_pipeline` bound to
a frame (``run_pipeline`` is that for a batch frame, re-exported here as the
served path's batch twin).

Serving a 100 TB engine this way is correct precisely because the serving
path is one record: a request should cost its LLM calls plus one small
Spark job, and anything heavier belongs in the batch/streaming planes. So:

- The pipeline is compiled once per record schema, not per request. With
  an ``input_schema`` that is once, at construction; with inferred schemas
  the plans live in an LRU of :data:`PLAN_CACHE_SIZE` entries (a client can
  post any field set), and the first request of a new field set pays the
  compile. A request only binds its row to the cached plan.
- The one-row frame is built from a one-row ``pyarrow.Table`` (one
  partition, one task, no pickled-row ``PythonRDD``), after the same
  per-value type check ``createDataFrame(verifySchema=True)`` runs on a
  list of rows — a value of the wrong type is a 400, never a silent Arrow
  cast. The Arrow schema and the verifier are kept with the plan.
- A request whose body stalls (shorter than its ``Content-Length``) is
  dropped after :attr:`_Handler.timeout` seconds without a byte, freeing
  its handler thread.

Endpoints (JSON in/out):

- ``GET  /ping``        -> ``{"ok": true}`` after a real executor round-trip
  (L14 connection smoke test, ``session.ping``).
- ``GET  /get_models``  -> list of model names the service routes to
  (mirrors the reference's ``/get_models``).
- ``POST /pipeline/run`` -> body = one record (field -> value); returns the
  record's pipeline state: every instruction output plus the final
  ``result`` markdown and lineage ``session_id``.
"""

from __future__ import annotations

import json
import threading
from collections import OrderedDict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _make_type_verifier

# run_pipeline: the served path's batch twin (compile_pipeline bound to a
# batch frame), kept importable from here.
from instructionspipe_spark.plans.compiler import compile_pipeline, run_pipeline  # noqa: F401
from instructionspipe_spark.plans.instructions import Pipeline
from instructionspipe_spark.plans.llm_kernel import LlmClient, MockLlm
from instructionspipe_spark.session import ping


class InvalidRecord(ValueError):
    """Client-side request error (missing/null/untyped/wrong-typed field)
    -> HTTP 400."""


# Explicit JSON-scalar -> Spark type mapping. bool precedes int (bool is an
# int subclass); anything outside this table needs an input_schema.
_SCALAR_TYPES: tuple[tuple[type, T.DataType], ...] = (
    (bool, T.BooleanType()),
    (int, T.LongType()),
    (float, T.DoubleType()),
    (str, T.StringType()),
)


def _infer_field(name: str, value) -> T.StructField:
    for py_t, spark_t in _SCALAR_TYPES:
        if isinstance(value, py_t):
            return T.StructField(name, spark_t)
    if isinstance(value, list) and value and all(isinstance(v, str) for v in value):
        return T.StructField(name, T.ArrayType(T.StringType()))
    raise InvalidRecord(
        f"field {name!r} has unsupported/uninferable type "
        f"{type(value).__name__}; construct PipelineService with an explicit "
        "input_schema to accept it"
    )


def _arrow_value(dt: T.DataType, v):
    """``v``, already verified against ``dt``, in the shape pyarrow takes: a
    struct given as a JSON array becomes a dict (createDataFrame accepts
    both; Arrow reads a sequence as (key, value) pairs)."""
    if v is None:
        return None
    if isinstance(dt, T.StructType):
        if not isinstance(v, dict):
            v = dict(zip(dt.names, v))
        return {f.name: _arrow_value(f.dataType, v.get(f.name)) for f in dt.fields}
    if isinstance(dt, T.ArrayType):
        return [_arrow_value(dt.elementType, x) for x in v]
    if isinstance(dt, T.MapType):
        return {k: _arrow_value(dt.valueType, x) for k, x in v.items()}
    return v


#: Compiled plans a service keeps for inferred record schemas. A client can
#: post any field set, so the cache is bounded: past this many schemas the
#: least recently used plan is dropped (and compiled again if it returns).
PLAN_CACHE_SIZE = 16


class _Plan:
    """The pipeline compiled for one record schema, with the per-schema
    helpers of its one-row frame: the Arrow schema and the type verifier."""

    def __init__(self, schema: T.StructType, pipeline: Pipeline, llm):
        self.schema = schema
        self.arrow_schema = to_arrow_schema(schema)
        self.verify = _make_type_verifier(schema)
        self.bind = compile_pipeline(schema, pipeline, llm)

    def row_df(self, spark: SparkSession, record: dict):
        """One-row DataFrame of ``record``, built from a one-row
        ``pyarrow.Table``: one partition and no ``PythonRDD``, where
        ``createDataFrame([row], schema)`` pickles the row through a
        PythonRDD spread over defaultParallelism partitions. The values
        first pass the verifier ``createDataFrame(verifySchema=True)`` runs,
        so the accepted set is unchanged — Arrow alone would truncate 1.5
        into a LongType."""
        try:
            self.verify(record)
        except (TypeError, ValueError) as e:
            raise InvalidRecord(str(e)) from e
        table = pa.Table.from_pylist(
            [_arrow_value(self.schema, record)], schema=self.arrow_schema
        )
        return spark.createDataFrame(table, self.schema)


class PipelineService:
    """One pipeline + LLM routing table, served per-record.

    ``input_schema`` (a ``StructType``) pins the request-record schema so
    field types cannot drift from the batch plan's (int vs long vs double)
    and null values are accepted for nullable fields; the plan is compiled
    for it here. Without it the schema is derived per request from the JSON
    scalars via an explicit type table — never ``createDataFrame``'s
    deprecated dict inference — a null value is a 400 (its type is
    unknowable from one record), and each new schema's plan is compiled on
    its first request into a bounded LRU (:data:`PLAN_CACHE_SIZE`)."""

    def __init__(
        self,
        spark: SparkSession,
        pipeline: Pipeline,
        llm: LlmClient | dict[str, LlmClient] | None = None,
        input_schema: T.StructType | None = None,
    ):
        self.spark = spark
        self.pipeline = pipeline
        self.llm = llm if llm is not None else MockLlm()
        self.input_schema = input_schema
        # Stage-0 scopes name the record fields the pipeline reads — the
        # serving contract's required fields. An empty scope requires no
        # field and answers null: like the reference's build_inputs, the
        # compiler renders only the fields a scope names.
        self.required_fields: tuple[str, ...] = tuple(
            sorted({f for inst in (pipeline.stages[0] if pipeline.stages else ()) for f in inst.scope})
        )
        self._fixed = None if input_schema is None else _Plan(input_schema, pipeline, self.llm)
        self._plans: OrderedDict[T.StructType, _Plan] = OrderedDict()
        self._plans_lock = threading.Lock()

    def models(self) -> list[str]:
        if isinstance(self.llm, dict):
            return sorted(self.llm)
        return [getattr(self.llm, "model", "default")]

    def _cached_plan(self, schema: T.StructType) -> _Plan:
        """The plan for an inferred schema. A miss compiles under the lock,
        so concurrent first requests of one schema compile it once."""
        with self._plans_lock:
            plan = self._plans.get(schema)
            if plan is not None:
                self._plans.move_to_end(schema)
                return plan
            plan = self._plans[schema] = _Plan(schema, self.pipeline, self.llm)
            if len(self._plans) > PLAN_CACHE_SIZE:
                self._plans.popitem(last=False)
            return plan

    def _plan_for(self, record: dict) -> _Plan:
        """Validate ``record`` and return the plan for its schema."""
        missing = [f for f in self.required_fields if f not in record]
        if missing:
            raise InvalidRecord(f"missing required field(s): {', '.join(missing)}")
        if self.input_schema is not None:
            unknown = [k for k in record if k not in self.input_schema.fieldNames()]
            if unknown:
                raise InvalidRecord(
                    f"unknown field(s) not in input_schema: {', '.join(sorted(unknown))}"
                )
            null_required = [
                f.name
                for f in self.input_schema.fields
                if not f.nullable and record.get(f.name) is None
            ]
            if null_required:
                raise InvalidRecord(
                    f"non-nullable field(s) null/absent: {', '.join(null_required)}"
                )
            return self._fixed
        null_fields = [k for k, v in record.items() if v is None]
        if null_fields:
            raise InvalidRecord(
                f"null value(s) for {', '.join(sorted(null_fields))}: a single "
                "record cannot type a null — construct PipelineService with "
                "an explicit input_schema"
            )
        # Sort field names: Spark's (deprecated) dict inference sorts keys,
        # so batch frames built from dicts have alphabetical columns — the
        # serving schema must match for lineage (session_id hashes the row
        # INCLUDING column order) to stay byte-identical to batch.
        schema = T.StructType([_infer_field(k, v) for k, v in sorted(record.items())])
        return self._cached_plan(schema)

    def _one_row_df(self, record: dict):
        return self._plan_for(record).row_df(self.spark, record)

    def run_record(self, record: dict) -> dict:
        """One record bound to the compiled plan of its schema — the plan
        the batch path runs — as one Spark job of one task: the Arrow
        one-row frame is a single partition, so no empty partition starts
        the kernel's Python workers. What a request builds is the row, the
        bind (per stage a projection, one completion call per client, a
        select; then result and session_id) and Spark's own query compile
        of that plan."""
        plan = self._plan_for(record)
        row = plan.bind(plan.row_df(self.spark, record)).collect()[0]
        return row.asDict(recursive=True)


class _Handler(BaseHTTPRequestHandler):
    service: PipelineService  # set by make_server
    #: Seconds a socket read or write may wait. A POST whose body is shorter
    #: than its Content-Length would otherwise hold the handler thread until
    #: the client hangs up; a timed-out request is dropped unanswered.
    timeout = 30

    def _send(self, code: int, payload) -> None:
        body = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        # The reference enables permissive CORS middleware; one header is
        # its stdlib equivalent for a demo/service endpoint.
        self.send_header("Access-Control-Allow-Origin", "*")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, fmt, *args):  # quiet: no stderr per request
        pass

    def do_GET(self):
        if self.path == "/ping":
            self._send(200, {"ok": ping(self.service.spark)})
        elif self.path == "/get_models":
            self._send(200, self.service.models())
        else:
            self._send(404, {"error": f"unknown path {self.path}"})

    def do_POST(self):
        if self.path != "/pipeline/run":
            self._send(404, {"error": f"unknown path {self.path}"})
            return
        try:
            n = int(self.headers.get("Content-Length", "0"))
            if n < 0:  # rfile.read(-1) would block until the client hangs up
                raise ValueError(f"invalid Content-Length: {n}")
            record = json.loads(self.rfile.read(n) or b"{}")
            if not isinstance(record, dict) or not record:
                raise ValueError("body must be a non-empty JSON object")
        except (ValueError, json.JSONDecodeError) as e:
            self._send(400, {"error": str(e)})
            return
        try:
            self._send(200, self.service.run_record(record))
        except InvalidRecord as e:
            self._send(400, {"error": str(e)})
        except Exception as e:  # surface, don't kill the server thread
            self._send(500, {"error": f"{type(e).__name__}: {e}"})


def make_server(service: PipelineService, host: str = "127.0.0.1", port: int = 0) -> ThreadingHTTPServer:
    """Build (not start) the HTTP server; ``port=0`` picks a free port.
    Caller runs ``serve_forever`` (or :func:`serve_background` for tests)."""
    handler = type("BoundHandler", (_Handler,), {"service": service})
    return ThreadingHTTPServer((host, port), handler)


def serve_background(service: PipelineService, host: str = "127.0.0.1", port: int = 0):
    """Start the server on a daemon thread; returns (server, base_url)."""
    server = make_server(service, host, port)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server, f"http://{server.server_address[0]}:{server.server_address[1]}"

"""Control-plane sources & dimension access (SURVEY.md §2A ops 5, 6,
9-10).

- ``load_collector_configs``: op 5 — the reference fetches collector
  configs from a REST endpoint at startup (Orchestrator.py:309-329);
  here a batch config read from JSON (file or HTTP, gated) into the F6
  schema, driving which streaming queries the CollectorManager starts.
- ``control_event_stream``: op 6 — the reference consumes lifecycle
  events from RabbitMQ (Orchestrator.py:73-85); here any streaming
  frame of JSON control events parsed into the dispatch shape the
  CollectorManager consumes.
- ``dim_*``: op 10 — the reference's SQLAlchemy lookups
  (db/DataCollector.py:40-60 find_one / find_one_by_ip_port_and
  _dctype_id / count) as DataFrame expressions over a dimension frame,
  JDBC-backed when a URL is configured (op 9's read side).

Op 15, the ChirpStack protobuf fallback, is not here: raw
``gw.UplinkFrame`` bodies are decoded by the pure-Python wire codec
(``pb_uplink_to_json``) inside ``normalize_chirpstack``.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import COLLECTOR_CONFIG_SCHEMA

# Control events (Orchestrator.py:138-231; FIXTURES.md F6).
CONTROL_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("data", COLLECTOR_CONFIG_SCHEMA),
        T.StructField("message", T.StringType()),
    ]
)


def load_collector_configs(spark: SparkSession, source: str) -> DataFrame:
    """Op 5: read collector configs (JSON array or JSONL) into the F6
    schema. ``source`` is a local path; an http(s) URL is fetched with
    urllib (the stdlib is always available) like the reference's
    requests.get (Orchestrator.py:309-329)."""
    if source.startswith(("http://", "https://")):
        from urllib.request import urlopen  # stdlib; no extra deps

        payload = json.loads(urlopen(source, timeout=30).read())
    else:
        with open(source, encoding="utf-8") as fh:
            text = fh.read().strip()
        payload = (
            json.loads(text)
            if text.startswith("[")
            else [json.loads(line) for line in text.splitlines() if line.strip()]
        )
    return spark.createDataFrame(payload, COLLECTOR_CONFIG_SCHEMA)


def control_event_stream(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Op 6: parse a stream of JSON control events into the dispatch
    shape (type + config). Feed from any source (lorawan_replay over a
    captured control queue, Kafka in production)."""
    j = F.from_json(value_col, CONTROL_EVENT_SCHEMA)
    return raw.select(
        j["type"].alias("type"),
        j["data"].alias("config"),
        j["message"].alias("message"),
    )


# --- op 10: dimension lookups (db/*.py find_one / count) ------------------


def read_dimension_jdbc(
    spark: SparkSession, url: str, table: str, properties: dict | None = None
) -> DataFrame:
    """Ops 9/10 read side: `spark.read.jdbc` over a control table
    (requires the JDBC driver jar on the classpath)."""
    return spark.read.jdbc(url, table, properties=properties or {})


def dim_find_one(dim: DataFrame, *predicates: Column) -> DataFrame:
    """ORM ``query.filter(...).first()`` (db/DataCollector.py:44-51):
    conjunctive filter + limit(1). Catalyst pushes the predicates into
    the scan (JDBC pushdown for the gated path)."""
    out = dim
    for p in predicates:
        out = out.filter(p)
    return out.limit(1)


def dim_find_collector_by_ip_port_and_type(
    dim: DataFrame, ip: str, port: str, dctype: str
) -> DataFrame:
    """db/DataCollector.py:44-51 three-predicate first-match
    (ip + port + collector type)."""
    return dim_find_one(
        dim,
        F.col("ip") == ip,
        F.col("port") == port,
        F.col("type.type") == dctype,
    )


def dim_count(dim: DataFrame) -> int:
    """``Organization.count()`` (db/Organization.py:22-24)."""
    return dim.count()

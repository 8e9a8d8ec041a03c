"""PySpark-native analytics engine with the query/data-processing
capabilities of RoLaGuard Community Edition data-collectors
(reference: Argeniss-Software/rolaguard_data-collectors, surveyed in
/root/repo/SURVEY.md).

The reference is a streaming LoRaWAN ETL service; this engine
re-expresses its entire operator surface (SURVEY.md §2) as idiomatic
Spark — DataFrame/SQL plans optimized by Catalyst, Structured
Streaming for the stream semantics, Arrow-vectorized pandas UDFs for
the LoRaWAN binary codec — plus the large-scale relational and
LLM-data-pipeline operators the driver contract requires.

Layout:
    session     SparkSession factory tuned for local[N] and cluster.
    catalog     testdata parquet tables -> DataFrames (timestamp
                normalization, spread()).
    schemas     canonical packet schema + raw-source schemas (F1-F6).
    registry    QuerySpec inventory behind __spark_entry__.py.
    operators/  scalar chains, relational, stateful batch shadows,
                cascade rollups and range joins.
    functions/  LoRaWAN frame codec + crypto as pandas UDFs and
                Catalyst expressions; protobuf uplink fallback.
    sources/    PySpark Python DataSource streaming readers and their
                transports (MQTT / TTN-v2 WebSocket / TTN-v3 SSE,
                capture replay), control-plane config reads.
    streaming/  normalize (per-source parse pipelines), enrich and
                stateful (device map, prev-packet correlation,
                location propagation, verify gate), sink (envelope
                serialization + exactly-once queue sink), orchestrator
                (one query per collector).
    llm/        dedup, similarity search, text analysis, multimodal,
                curation.
"""

__version__ = "0.1.0"

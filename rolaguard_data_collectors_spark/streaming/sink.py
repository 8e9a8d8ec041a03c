"""Sinks (SURVEY.md §2A ops 7-9): the packet-queue envelope sink, the
status/error side-output, and the JDBC row sink.

The reference publishes one JSON envelope per packet to RabbitMQ
(``{'packet': ..., 'messages': [...], 'ts': epoch}``,
BaseCollector.py:55-56, PacketPersistence.py:27-53, Publisher.py:112-123)
with at-least-once delivery. Here the envelope is built with
``to_json(struct(...))`` and written by ``foreachBatch``; pairing the
epoch id with a commit log makes the file sink exactly-once — stronger
than the reference, whose publisher silently drops messages while its
channel is closed (Publisher.py:113-114, a bug we do not replicate).

Scale note: ``foreachBatch`` hands the whole micro-batch DataFrame to
the writer, and each epoch's envelopes are written by Spark's own text
writer, one part file per partition, from the JVM tasks that computed
them. No envelope crosses into a Python worker and nothing is
collected to the driver, so publish throughput scales with partitions,
not with a single driver-side connection like the reference's
one-publisher-thread-per-collector design. A broker sink would use
Spark's JVM connector the same way (the Kafka sink writes from its
tasks).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..commitlog import append_commit_line
from ..schemas import PACKET_COLUMNS

RAW_MESSAGE_CAP = 4096  # TTNCollector.py:218, TTNv3Collector.py:246


def to_envelope_json(packets: DataFrame) -> DataFrame:
    """Normalized packet rows (+ passthrough ``_raw_topic``,
    ``_raw_value``) -> one JSON envelope string per packet, exactly the
    reference's packet_writter_message shape."""
    cols = set(packets.columns)
    topic = F.col("_raw_topic") if "_raw_topic" in cols else F.col("topic")
    raw = F.col("_raw_value") if "_raw_value" in cols else F.lit(None).cast("string")
    envelope = F.struct(
        F.struct(*[F.col(c) for c in PACKET_COLUMNS]).alias("packet"),
        F.array(
            F.struct(
                topic.alias("topic"),
                F.substring(raw, 1, RAW_MESSAGE_CAP).alias("message"),
                F.col("data_collector_id").alias("data_collector_id"),
            )
        ).alias("messages"),
        F.unix_timestamp().cast("long").alias("ts"),  # PacketPersistence.py:35
    )
    return packets.select(
        F.col("data_collector_id").alias("collector_id"),
        F.to_json(envelope).alias("envelope"),
    )


class QueueFileSink:
    """File-backed stand-in for the RabbitMQ ``collectors_queue``: one
    JSON line per envelope, exactly-once across query restarts AND
    across crashes inside the publish itself.

    Epoch protocol (the standard idempotent-sink recipe for
    non-transactional targets):

    1. Spark's text writer writes one ``part-NNNNN-*`` file per
       partition under ``<out>.epochs/epoch=N/`` (a NULL envelope
       becomes a JSON ``null`` line). A retried task cannot leave a
       duplicate: Spark's file commit protocol stages task output
       under ``_temporary`` and moves only committed tasks' files into
       place;
    2. the driver truncates the queue file back to the last COMMITTED
       end offset (discarding any torn bytes from a crash mid-append),
       appends the part files in name (= partition) order, fsyncs;
    3. the commit log records ``epoch,end_offset`` — an epoch is
       replayed unless its commit record exists, and step 2 makes the
       replay idempotent, closing the crash window between the data
       append and the commit append.
    """

    def __init__(self, out_path: str):
        self.out_path = out_path
        self.commit_path = out_path + ".commits"
        self.epoch_root = out_path + ".epochs"

    def _commits(self) -> dict[int, int]:
        """epoch -> end offset after that epoch's append. Records carry
        a trailing ``,end`` terminator (round-9 review fix): a commit
        torn MID-NUMBER ('7,123' torn at '7,12') would otherwise parse
        as a committed epoch at a WRONG offset, and the next epoch's
        truncate(base) would wipe published rows. A line without the
        terminator is treated as uncommitted: the epoch re-publishes
        idempotently (truncate back to the last good offset).

        Legacy compatibility (round-10 ADVICE fix): logs written before
        the terminator change hold 2-field ``epoch,offset`` records. A
        2-field record is accepted iff its line is newline-complete — a
        torn legacy write has no trailing newline, so completeness rules
        out the mid-number tear; treating complete legacy records as
        uncommitted instead would set base=0 and the next epoch's
        truncate(0) would erase every previously published queue row."""
        commits: dict[int, int] = {}
        if not os.path.exists(self.commit_path):
            return commits
        with open(self.commit_path, "rb") as fh:
            raw = fh.read()
        for line in raw.split(b"\n")[:-1]:  # keep only \n-complete lines
            parts = line.decode("utf-8", errors="replace").strip().split(",")
            if len(parts) == 3 and parts[2] == "end":
                pass
            elif len(parts) == 2:
                pass  # legacy pre-terminator record, newline-complete
            else:
                continue  # torn/garbled write: treat as uncommitted
            try:
                commits[int(parts[0])] = int(parts[1])
            except ValueError:
                continue
        # A final line WITHOUT a newline can still be a valid new-format
        # record torn only at the trailing '\n' (append writes line+'\n'
        # in one call, but the kernel may split it): the ',end'
        # terminator proves the offset digits are complete.
        tail = raw.split(b"\n")[-1]
        parts = tail.decode("utf-8", errors="replace").strip().split(",")
        if len(parts) == 3 and parts[2] == "end":
            try:
                commits[int(parts[0])] = int(parts[1])
            except ValueError:
                pass
        return commits

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        commits = self._commits()
        if epoch_id in commits:
            return  # replayed micro-batch: already published
        epoch_dir = os.path.join(self.epoch_root, f"epoch={epoch_id}")
        # Clear any scratch left by a CRASHED attempt of this epoch
        # before republishing (round-8 fuzz): a replay may run with a
        # different partitioning (AQE re-plan after restart), and a
        # stale part file (each write names its files with a fresh job
        # id) would otherwise be appended alongside the fresh ones —
        # duplicated rows inside an "exactly-once" epoch.
        shutil.rmtree(epoch_dir, ignore_errors=True)
        # NULL envelope -> JSON null line (round-8 fuzz): the serializer
        # never emits one, but a NULL from a custom caller must neither
        # poison the epoch nor silently drop a row.
        batch_df.select(F.coalesce("envelope", F.lit("null"))).write.mode(
            "overwrite"
        ).text(epoch_dir)

        base = max(commits.values(), default=0)
        # ensure the queue file exists, then recover + append atomically
        with open(self.out_path, "ab"):
            pass
        with open(self.out_path, "r+b") as fh:
            fh.truncate(base)  # drop torn bytes from any crashed epoch
            fh.seek(base)
            for name in sorted(os.listdir(epoch_dir)):
                if name.startswith("part-"):  # not _SUCCESS, .crc, _temporary
                    with open(os.path.join(epoch_dir, name), "rb") as pf:
                        shutil.copyfileobj(pf, fh)
            fh.flush()
            os.fsync(fh.fileno())
            end = fh.tell()
        append_commit_line(self.commit_path, f"{epoch_id},{end},end")
        shutil.rmtree(epoch_dir, ignore_errors=True)


def start_envelope_queue_sink(
    packets: DataFrame, out_path: str, checkpoint: str, trigger_seconds: int = 1
):
    """writeStream wiring for the packet queue: 1 s micro-batches match
    the reference publisher's 1 s drain loop (Publisher.py:99-104)."""
    return (
        to_envelope_json(packets)
        .writeStream.outputMode("append")
        .foreachBatch(QueueFileSink(out_path))
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def split_errors(packets: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Op 32/8: rows with a parse error still persist, but also feed
    the FAILED_PARSING side-output (PhyParser.py:10-12,
    PacketPersistence.py:63-70)."""
    errors = packets.filter(F.col("error").isNotNull()).select(
        F.col("data_collector_id"),
        F.lit("FAILED_PARSING").alias("type"),
        F.col("error").alias("message"),
    )
    return packets, errors


# The EXACT column list Service.py:7-46 persists into the Packet model
# — the JDBC row contract. The engine's packet frame carries a few
# extra working columns (gw_name, seqn, opts, port) that the reference
# keeps only inside the queue envelope, never in the packets table.
JDBC_PACKET_COLUMNS = [
    "date", "topic", "data_collector_id", "organization_id", "gateway",
    "tmst", "chan", "rfch", "freq", "stat", "modu", "datr", "codr",
    "lsnr", "rssi", "size", "data", "m_type", "major", "mic",
    "join_eui", "dev_eui", "dev_nonce", "dev_addr", "adr", "ack",
    "adr_ack_req", "f_pending", "class_b", "f_count", "f_opts",
    "f_port", "error", "latitude", "longitude", "altitude",
    "app_name", "dev_name",
]


def jdbc_projection(batch_df: DataFrame) -> DataFrame:
    """Project a packet frame to exactly the Service.py:7-46 row
    contract (order included). Kept separate from the write so the
    contract is plan-testable without a JDBC driver."""
    return batch_df.select(*JDBC_PACKET_COLUMNS)


def write_packets_jdbc(
    batch_df: DataFrame, url: str, table: str, properties: dict | None = None
) -> None:
    """Op 9 (PacketPersistence.py:12-15, Service.py:5-47): the disabled
    Postgres row sink, as a foreachBatch body."""
    jdbc_projection(batch_df).write.mode("append").jdbc(
        url, table, properties=properties or {}
    )

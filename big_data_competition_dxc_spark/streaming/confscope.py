"""State-store partition counts for stateful streaming runs.

A registered query that needs a conf for its own run builds and runs
that query on a child session holding the conf (``session.scoped``);
the shared session's confs never change, so nothing leaks into other
clients' queries, concurrent ones included. ``state_scope`` is that
child for a stateful stream's state-store count, which is the
``spark.sql.shuffle.partitions`` value at the checkpoint's first
micro-batch.

A streaming aggregation creates one state store per shuffle
partition; with the session default (32) a query whose key domain is
a small CONSTANT set (tick-feed buckets, event types) commits 32
snapshot+delta stores per micro-batch to hold a handful of rows — most
of them empty. Scoping the count to the domain size removes that
per-batch commit fan-out. This is NOT a core-count tune: it only
applies where the key domain is a schema constant independent of data
scale, the reduce side of the aggregation only ever merges map-side
partials (≤ domain-size rows per map task at any scale), and batch
queries' partitioning is untouched. State keyed by a SCALING domain
(users, sessions) takes a count derived from input bytes instead
(``scaled_state_partitions``) — documented per call site.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession

from ..session import scoped


def state_scope(spark: SparkSession, n: int) -> SparkSession:
    """A child of ``spark`` whose stateful streams keep ``n`` state
    stores per operator (``session.scoped``)."""
    return scoped(spark, {"spark.sql.shuffle.partitions": str(n)})


#: Advisory input bytes per state partition for SCALING-domain streams.
#: Sized so the sf0.1 fixture lands on the floor and a 10x fixture
#: grows past it — the point is the growth law, not the constant.
SCALED_STATE_ADVISORY_BYTES = 4 << 20
#: Never fewer than this many state partitions (keeps multi-store
#: parallelism real even on the smallest fixture).
SCALED_STATE_FLOOR = 4


def scaled_state_partitions(
    spark: SparkSession,
    *paths: str,
    advisory_bytes: int = SCALED_STATE_ADVISORY_BYTES,
    floor: int = SCALED_STATE_FLOOR,
) -> int:
    """Scale-ADAPTIVE state-partition count for a stateful stream whose
    key domain GROWS with input (users, sessions, join keys) — the
    complement of a constant-domain count.

    A streaming stateful operator creates one state store per shuffle
    partition, fixed at the checkpoint's first micro-batch, and EVERY
    micro-batch (including the zero-input watermark-flush batch an
    availableNow run always appends) re-commits every store. At the
    session default the sf0.1 fixture's stream-stream join committed
    32 partitions x 4 join-state stores x 2 micro-batches = 256 store
    commits to hold ~40k state rows — the flush batch alone cost more
    than the data batch's join work.

    The count is derived from the INPUT BYTES (guide §2: make
    partitioning scale-adaptive — derive from input size — rather than
    a constant tuned for either local mode or the cluster):
    ``ceil(total_bytes / advisory_bytes)``, floored at ``floor`` and
    CAPPED at the session default, so a fixture-scale run gets a
    handful of right-sized stores, a 10x fixture gets proportionally
    more, and a production run (whose inputs dwarf
    default x advisory_bytes) keeps the cluster-tuned session default
    untouched. Not a core-count tune: the value depends on data size,
    never on local core count, and the cap is the only place the
    session setting appears.

    Results are partition-count independent: hash partitioning by key
    only decides WHERE a key's state lives, never which rows join or
    when the watermark evicts them (oracle-pinned per call site).
    """
    total = 0
    for p in paths:
        try:
            if os.path.isdir(p):
                for root, _dirs, files in os.walk(p):
                    total += sum(
                        os.path.getsize(os.path.join(root, f)) for f in files
                    )
            else:
                total += os.path.getsize(p)
        except OSError:
            continue
    session_default = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    derived = max(floor, math.ceil(total / advisory_bytes))
    return min(derived, session_default)

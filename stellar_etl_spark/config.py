"""Engine configuration.

The reference configures everything through Cobra CLI flags
(``/root/reference/internal/utils/main.go:460-538`` MustCommonFlags);
we use one frozen dataclass threaded through the operators.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    """Knobs for the transcript engine.

    Reference analogs:
      session_gap        <- ledger close boundary (64-ledger checkpoint,
                            /root/reference/internal/utils/main.go:827-846)
      watermark_delay    <- the reference has no late data (input ordered by
                            construction, internal/input/changes.go:107-140);
                            we replace the in-order guarantee with event time.
      strict_errors      <- --strict flag (internal/utils/main.go:234,
                            internal/utils/logger.go:17-23)
      limit              <- --limit early exit (internal/utils/main.go:254)

    Two partition widths, both set once by ``session.get_spark``:
      shuffle_partitions  batch width: the partition count a batch shuffle
                          starts from before AQE coalesces it
                          (``spark.sql.adaptive.coalescePartitions.initialPartitionNum``).
      (state width)       ``spark.sql.shuffle.partitions``, the width of the
                          plans AQE does not run in: the stateful streaming
                          operators (one state-store instance per
                          partition) and the transforms inside
                          ``foreachBatch``. Derived from the session's
                          ``defaultParallelism``, i.e. its cores; a
                          checkpoint keeps the width it was first started
                          with.
    ``master`` defaults to every core of the host, and the driver heap is
    derived from the host's memory (``session.driver_memory``).
    """

    # windowing
    session_gap: str = "8 hours"  # events-derived table; generator uses 30 min
    tumbling: str = "1 minute"
    sliding_length: str = "5 minutes"
    sliding_slide: str = "1 minute"
    watermark_delay: str = "10 minutes"

    # error handling (F7 in SURVEY §2.2)
    strict_errors: bool = False
    # turn-validation guard implementation: "jvm" (codegen F.when chain)
    # or "pandas" (Arrow-batched quarantine UDF — the template for guards
    # built-ins can't express)
    validator: str = "jvm"

    # pluggable transform hooks (2.10 — the TransformContractDataStruct
    # pattern, /root/reference/internal/transform/contract_data.go:33-46:
    # function-valued config swapped per deployment). None -> the
    # built-in deterministic stub decoder (functions/multimodal.py).
    multimodal_decoder: object = None

    # spark session
    shuffle_partitions: int = 32
    master: str = "local[*]"
    extra_conf: dict = field(default_factory=dict)


DEFAULT = EngineConfig()

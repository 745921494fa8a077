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

    Every default that the hardware decides is derived by
    ``session.get_spark``, not held here: ``master`` defaults to every
    core of the host, the driver heap is half of its memory
    (``session.driver_memory``) and the partition width is the
    session's cores (``spark.sql.shuffle.partitions``). That one width
    serves the batch shuffles, which AQE starts from it and coalesces
    down, and the plans AQE does not run in: the stateful streaming
    operators (one state-store instance per partition) and the
    transforms inside ``foreachBatch``. A checkpoint keeps the width it
    was first started with.
    """

    # windowing
    session_gap: str = "8 hours"  # events-derived table; generator uses 30 min
    watermark_delay: str = "10 minutes"

    # error handling (F7 in SURVEY §2.2)
    strict_errors: bool = False

    # pluggable transform hooks (2.10 — the TransformContractDataStruct
    # pattern, /root/reference/internal/transform/contract_data.go:33-46:
    # function-valued config swapped per deployment). None -> the
    # built-in deterministic stub decoder (functions/multimodal.py).
    multimodal_decoder: object = None

    # spark session
    master: str = "local[*]"
    extra_conf: dict = field(default_factory=dict)


DEFAULT = EngineConfig()

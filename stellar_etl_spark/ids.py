"""Deterministic order/identity keys — the TOID analog.

The reference packs (ledger, tx, op) into one int64 total-order id
(/root/reference/internal/toid/main.go:60-84,139-157): ledger<<32 |
tx<<12 | op, giving <=1,048,575 tx/ledger and <=4,095 ops/tx.

Our analog packs (conv, turn) into ``turn_id``:

    turn_id = conv_num << TURN_BITS | turn_idx

with TURN_BITS=20 (<=1,048,575 turns per conversation — the same
capacity bound the reference gives transactions-per-ledger). conv_num
must be a deterministic integer derived from conv_id:

  * numeric-suffix conv ids ("c123") -> the suffix itself (portable to
    any SQL engine, used wherever oracle parity matters);
  * arbitrary conv ids -> xxhash64(conv_id) truncated to 43 bits
    (deterministic pure function of the key — the TOID lesson; never
    F.monotonically_increasing_id(), which changes across task retries).

Everything here is a Column expression: JVM-side, codegen'd, no Python
in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TURN_BITS = 20
TURN_MASK = (1 << TURN_BITS) - 1
CONV_BITS = 43  # keeps turn_id positive in a signed int64


# a conv_id that conv_num_from_suffix maps to a number: non-digits,
# then digits to the end
NUMERIC_SUFFIX = "^[^0-9]*[0-9]+$"


def conv_num_from_suffix(conv_id: Column | str) -> Column:
    """conv_id 'c<digits>' -> <digits> as bigint (SQL-portable); NULL
    for an id without a numeric suffix (``NUMERIC_SUFFIX``), so one
    such row does not fail an ANSI cast for its whole batch."""
    c = F.col(conv_id) if isinstance(conv_id, str) else conv_id
    return F.regexp_replace(c, "^[^0-9]*", "").try_cast("long")


def conv_num_hashed(conv_id: Column | str) -> Column:
    """Arbitrary conv_id -> stable 43-bit integer via xxhash64.

    FarmHash/FNV surrogate-key analog
    (/root/reference/internal/transform/asset.go:72-77,
    offer_normalized.go:108-178) — deterministic, collision-tolerant
    for grouping identity, never a sequence generator.
    """
    c = F.col(conv_id) if isinstance(conv_id, str) else conv_id
    return F.pmod(F.xxhash64(c), F.lit(1 << CONV_BITS))


def pack_turn_id(conv_num: Column, turn_idx: Column | str) -> Column:
    """(conv_num, turn_idx) -> packed int64, monotone in turn order."""
    t = F.col(turn_idx) if isinstance(turn_idx, str) else turn_idx
    return (conv_num * F.lit(1 << TURN_BITS) + t.cast("long")).cast("long")


def unpack_conv_num(turn_id: Column | str) -> Column:
    t = F.col(turn_id) if isinstance(turn_id, str) else turn_id
    return (t / F.lit(1 << TURN_BITS)).cast("long")


def unpack_turn_idx(turn_id: Column | str) -> Column:
    t = F.col(turn_id) if isinstance(turn_id, str) else turn_id
    return F.pmod(t, F.lit(1 << TURN_BITS)).cast("int")


def pack_py(conv_num: int, turn_idx: int) -> int:
    """Python-side pack (tests / range cursors, toid/main.go:89-115)."""
    if not 0 <= turn_idx <= TURN_MASK:
        raise ValueError(f"turn_idx {turn_idx} exceeds {TURN_BITS}-bit capacity")
    return (conv_num << TURN_BITS) | turn_idx


def unpack_py(turn_id: int) -> tuple[int, int]:
    return turn_id >> TURN_BITS, turn_id & TURN_MASK


def after_conv(conv_num: int) -> tuple[int, int]:
    """Half-open turn_id range covering one conversation — the
    AfterLedger/LedgerRangeInclusive cursor analog (toid/main.go:89-115)."""
    return pack_py(conv_num, 0), pack_py(conv_num + 1, 0)

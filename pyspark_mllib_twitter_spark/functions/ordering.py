"""Engine-portable event-ordering keys.

Window functions order by ``(ts, id)`` directly — use that wherever the
operator is a window (lead/lag/row_number). But single-argument selection
aggregates (``min_by`` / ``max_by`` / DuckDB ``arg_min`` / ``arg_max``)
need ONE scalar key encoding the same total order. An integer packing
(``delta_us * 2^k + id``) silently breaks when ids reach 2^k or the time
span overflows int64; the fixed-width STRING concatenation here has
neither failure mode — lexicographic order on zero-padded decimal equals
numeric order for any non-negative values, and the widths (20 digits for
microseconds-since-epoch, 19 for an int64 id) cover the full domains.

Constraint: both components must be non-negative (pre-1970 timestamps or
negative ids would need a sign-folding scheme); every fixture and any
sane event table satisfies this.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Zero-pad widths: 20 decimal digits hold epoch-microseconds past year
#: 33000; 19 hold any non-negative int64 id.
_TS_W = 20
_ID_W = 19


def ord_key(ts_col: Column, id_col: Column) -> Column:
    """Scalar string key whose lexicographic order == ``(ts, id)`` order.

    ``unix_micros`` rejects TIMESTAMP_NTZ, and the ntz->tz cast shifts
    every value identically, so relative order is unaffected.
    """
    us = F.unix_micros(ts_col.cast("timestamp"))
    return F.concat(
        F.lpad(us.cast("string"), _TS_W, "0"),
        F.lpad(id_col.cast("string"), _ID_W, "0"),
    )

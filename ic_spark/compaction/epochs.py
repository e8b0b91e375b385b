"""Iceberg internal temporal representations, in ONE place.

The spec stores DATE as int days-from-epoch and TIMESTAMP(TZ) as long
micros-from-epoch (Iceberg spec §Primitive Types); that arithmetic is
tz-sensitive in exactly one way — an AWARE datetime measures from the
UTC epoch (timestamptz stores instants; an epoch carrying the value's
own offset would store wall-clock micros, off by the UTC offset) while
a NAIVE datetime measures from the naive epoch, as written.

Manifest encoding (``iceberg_meta._coerce_partition_value``), the scan
fill's reverse mapping (``iceberg_meta.fill_partition_values``),
partition pruning (``table_model._temporal_epoch``) and the Avro data-file
wire encoder (``writer._logical_leaf_fixer``) all need the SAME
conversion: four hand-maintained copies desynchronized once already
(r9 review find) — they now share these helpers.  Exact integer
arithmetic throughout; no float rounding.
"""

from __future__ import annotations

import datetime as dt

EPOCH_DATE = dt.date(1970, 1, 1)
_EPOCH_NAIVE = dt.datetime(1970, 1, 1)
_EPOCH_UTC = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def epoch_days(d: dt.date) -> int:
    """date → Iceberg internal int (days from 1970-01-01)."""
    return (d - EPOCH_DATE).days


def epoch_micros(ts: dt.datetime) -> int:
    """datetime → Iceberg internal long (micros from epoch).

    Aware values measure from the UTC epoch; naive values from the
    naive epoch — both exact (timedelta carries integer micros).
    """
    base = _EPOCH_UTC if ts.tzinfo is not None else _EPOCH_NAIVE
    d = ts - base
    return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds


def date_from_epoch_days(n: int) -> dt.date:
    """Inverse of :func:`epoch_days`."""
    return EPOCH_DATE + dt.timedelta(days=n)


def datetime_from_epoch_micros(n: int) -> dt.datetime:
    """Inverse of :func:`epoch_micros` for NAIVE rendering (callers
    append an explicit ``+00:00`` when the source is timestamptz)."""
    return _EPOCH_NAIVE + dt.timedelta(microseconds=n)

"""Multi-format timestamp parsing (reference F5).

F5 ``_parse_exif_datetime`` (/root/reference/photo_dedup/metadata.py:
40-60): strip whitespace, strip trailing NULs, then try three datetime
formats in order — ``YYYY:MM:DD``, ``YYYY-MM-DD``, ``YYYY/MM/DD`` (all
with ``HH:MM:SS``) — first hit wins, unparseable ⇒ NULL.

A pure column expression (``coalesce(try_to_timestamp(...))``), so
the chain is codegen'd JVM-side — no UDF.  ``q_media_features``
parses the decoded EXIF capture datetime with it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# metadata.py:31-35
_FORMATS = ("yyyy:MM:dd HH:mm:ss", "yyyy-MM-dd HH:mm:ss", "yyyy/MM/dd HH:mm:ss")


def _cleaned(raw: Column) -> Column:
    # value.strip().rstrip('\x00')  (metadata.py:49)
    return F.regexp_replace(F.trim(raw), "\x00+$", "")


def parse_datetime_multi(raw: Column) -> Column:
    """F5: multi-format coalesce parse; NULL when no format matches."""
    c = _cleaned(raw)
    return F.coalesce(*[F.try_to_timestamp(c, F.lit(s)) for s in _FORMATS])

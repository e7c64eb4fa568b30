"""Reference-semantics scalar functions as pure Catalyst expressions.

These reproduce, bit-for-bit, the scalar transforms of the reference
pipeline (see SURVEY.md §2a T1–T3, P5, T7) — but as ``Column``
expression builders, *not* UDFs, so they vectorize inside whole-stage
codegen and cost nothing extra at 100 TB.

Reference parity notes (citations into /root/reference/):

* ``split_friends`` — src/animals_etl/utils.py:14-18: split on ",",
  strip each token, drop empty tokens; None/"" → [].
* ``epoch_to_timestamp_utc`` — src/animals_etl/utils.py:20-48: unit
  auto-detect by magnitude (>=1e18 ns, >=1e15 µs, >=1e12 ms, else s);
  None/negative → NULL; values after the as-of instant → NULL ("future
  guard").  The reference compares against wall-clock ``now()``
  (utils.py:31) which is non-reproducible, so the engine threads an
  explicit ``as_of`` timestamp — pass a constant for oracle-stable runs.
  The reference's overflow → NULL branch (utils.py:42-45, epochs past
  datetime.max year 9999) is subsumed by any as-of guard earlier than
  year 9999.
* ``format_iso8601_z`` — utils.py:48 formats via
  ``datetime.isoformat().replace("+00:00", "Z")``: no fractional part
  when microseconds == 0, else exactly 6 fractional digits.
* ``validate_iso8601_utc`` — utils.py:7,50-54 regex; NULL is valid.
* ``batch_index`` — utils.py:9-12 ``chunked``: the batch number each
  row lands in at a given batch size (sink micro-batching, ≤100/POST,
  clamp src/animals_etl/pipeline.py:93).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

ISO_UTC_Z_REGEX = r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?Z$"

# Python ``str.strip()`` (utils.py:17) strips every codepoint for which
# ``str.isspace()`` is true — a larger set than both Java regex ``\s``
# (ASCII-only without UNICODE_CHARACTER_CLASS) and ``F.trim`` (ASCII
# space only).  This class is the exact CPython set, enumerated from
# ``[c for c in range(0x110000) if chr(c).isspace()]``: ASCII
# whitespace, the C1 info separators 1C–1F, NEL 85, NBSP A0, OGHAM
# 1680, the U+2000 block, LS/PS 2028–2029, NNBSP 202F, MMSP 205F,
# IDEOGRAPHIC SPACE 3000.
_PY_WS_CLASS = (
    "\u0009-\u000d\u001c-\u0020\u0085\u00a0\u1680"
    "\u2000-\u200a\u2028\u2029\u202f\u205f\u3000"
)
PY_STRIP_REGEX = f"^[{_PY_WS_CLASS}]+|[{_PY_WS_CLASS}]+$"


def py_strip(col: Column | str) -> Column:
    """``str.strip()``-exact trim: full Unicode-whitespace set, both ends."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, PY_STRIP_REGEX, "")


def split_friends(col: Column | str) -> Column:
    """Comma-separated string → stripped, empty-dropped string array.

    NULL and "" both map to an empty array (utils.py:16-17).  Tokens are
    stripped with :func:`py_strip`, not ``F.trim`` — Python's
    ``str.strip()`` removes Unicode whitespace (NBSP, NEL, U+2000…),
    which ``trim`` does not (round-2 differential falsifier: ``"\\xa0"``).
    """
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    tokens = F.transform(F.split(c, ","), py_strip)
    return F.filter(tokens, lambda x: x != F.lit(""))


def epoch_to_timestamp_utc(col: Column | str, as_of: Column | str | None = None) -> Column:
    """Epoch of auto-detected unit (s/ms/µs/ns) → TimestampType, UTC.

    NULL / negative / after-``as_of`` all yield NULL (row preserved).
    ``as_of`` defaults to ``current_timestamp()`` to mirror the
    reference's wall-clock guard; pass a literal for reproducible runs.
    """
    raw = F.col(col) if isinstance(col, str) else col
    if as_of is None:
        as_of_ts = F.current_timestamp()
    elif isinstance(as_of, str):
        as_of_ts = F.lit(as_of).cast("timestamp")
    else:
        as_of_ts = as_of
    # int(epoch): truncate float input toward zero (utils.py:30).
    e = raw.cast("long")
    # The reference divides to FLOAT seconds (utils.py:34-41) and feeds
    # datetime.fromtimestamp, which CPython implements as
    # ``frac, t = modf(ts); us = round(frac * 1e6)`` with half-even
    # rounding.  Reproduce that float path exactly: int→double cast,
    # IEEE division, floor/rint split, half-even µs rounding — so the
    # engine is bit-identical to the reference on every unit branch.
    divisor = (
        F.when(e >= F.lit(10**18), F.lit(1_000_000_000.0))
        .when(e >= F.lit(10**15), F.lit(1_000_000.0))
        .when(e >= F.lit(10**12), F.lit(1_000.0))
        .otherwise(F.lit(1.0))
    )
    t = e.cast("double") / divisor
    whole = F.floor(t)  # e >= 0 ⇒ floor == modf integral part
    us = F.rint((t - whole) * F.lit(1_000_000.0)).cast("long")  # rint = half-even
    # us == 1_000_000 carries into the next second, as in CPython.
    ts = F.when(
        raw.isNull() | (raw < 0), F.lit(None).cast("timestamp")
    ).otherwise(F.timestamp_micros(whole * F.lit(1_000_000) + us))
    return F.when(ts <= as_of_ts, ts)


def format_iso8601_z(ts: Column | str) -> Column:
    """TimestampType → ISO-8601 ``Z`` string, isoformat()-compatible.

    Python ``isoformat()`` emits no fraction when µs == 0, else exactly
    six fractional digits — reproduce that branch.
    """
    t = F.col(ts) if isinstance(ts, str) else ts
    whole = F.date_format(t, "yyyy-MM-dd'T'HH:mm:ss'Z'")
    frac = F.date_format(t, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
    return F.when(F.unix_micros(t) % 1_000_000 == 0, whole).otherwise(frac)


def epoch_to_iso8601_utc(col: Column | str, as_of: Column | str | None = None) -> Column:
    """Composed T2: epoch → ISO-8601 ``Z`` string (NULL-preserving)."""
    return format_iso8601_z(epoch_to_timestamp_utc(col, as_of))


def validate_iso8601_utc(col: Column | str) -> Column:
    """Boolean: string matches the reference's ISO-8601-Z regex; NULL ok."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNull() | c.rlike(ISO_UTC_Z_REGEX)


def clamp_batch_size(size: int) -> int:
    """Sink batch-size clamp to [1, 100] (pipeline.py:93)."""
    return max(1, min(100, size))


def batch_index(row_number_col: Column | str, batch_size: int) -> Column:
    """0-based batch number for a 1-based row_number at a batch size.

    Relational rendering of ``chunked`` (utils.py:9-12): rows with equal
    ``batch_index`` form one sink batch of ≤ ``batch_size`` rows.
    """
    rn = F.col(row_number_col) if isinstance(row_number_col, str) else row_number_col
    size = clamp_batch_size(batch_size)
    return F.floor((rn - 1) / F.lit(size)).cast("long")

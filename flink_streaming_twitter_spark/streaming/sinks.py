"""Sink adapters (SURVEY.md §2.8/§2.9).

The reference writes InfluxDBPoints through a RichSinkFunction with
client-side batching (InfluxDBSink.java:32-91; unbounded batch + 100 ms
flush + gzip per Main.java:43-45). The Spark-first analog is
``foreachBatch``: each micro-batch formats its rows as InfluxDB line
protocol and ships them in one HTTP POST (naturally batched per trigger).
Tests exercise the pure formatting path; the HTTP write is gated so no
external service is needed.

Delivery semantics: at-least-once, matching the reference (no
checkpoint-coordinated transactional sink there either — Main.java:50-55
has checkpointing commented out).

Citation note (ADVICE r9): ``Main.java`` here and in the mapper
docstrings below abbreviates the reference's
``PrcoessTweetFromKafkaAndWriteToInfluxDatabase.java`` (its actual main
class file, typo included), per the convention SURVEY.md §1 documents.

UPGRADE NOTE (typed fields, round 8): releases before the typed-struct
fields shipped counts as quoted strings (``count="5"``), which made
InfluxDB type the field as STRING at first write. InfluxDB field types
are fixed per measurement once written, so pointing the typed writer
(``count=5i``) at a database that already holds string-typed counts
produces per-point "field type conflict" partial-write errors for the
affected measurements. Write to a fresh database/retention policy (or
drop the four reference measurements) when upgrading an existing
deployment; fresh deployments are unaffected.
"""

from __future__ import annotations

import logging
import math
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)


def to_influx_points(
    df: DataFrame,
    measurement: str,
    ts_col: str,
    tag_cols: dict[str, str],
    field_cols: dict[str, str],
) -> DataFrame:
    """Shape a result DataFrame as sink-ready points (measurement, ts,
    tags MAP, fields STRUCT) — the M1-M4 mappers (Main.java:222-277) as
    one parameterized projection.

    Tags are always strings in line protocol, so they ship as
    MAP<STRING,STRING>. Fields keep each source column's NATIVE type in a
    typed struct: the reference puts ``Long`` values into its fields map
    (Main.java:230-231) and influxdb-java renders them as ``count=5i``;
    stringifying here would make InfluxDB type the field as string on
    first write and break every numeric dashboard query. ``influx_line``
    renders the struct by Python type (int → ``5i``, float → ``5.0``,
    str → quoted).

    The hashtag is a documented remap, not the reference's exact field
    set: its two trending mappers put the hashtag STRING in the fields
    map with an empty tags map (Main.java:228-229, 242-243). We ship it
    as a TAG instead (indexed, and the series key a dashboard groups
    by), so one BIGINT ``count`` is the sole field of all four
    measurements."""
    tags = F.create_map(
        *[x for k, c in tag_cols.items() for x in (F.lit(k), F.col(c).cast("string"))]
    )
    fields = F.struct(*[F.col(c).alias(k) for k, c in field_cols.items()])
    return df.select(
        F.lit(measurement).alias("measurement"),
        F.col(ts_col).alias("ts"),
        tags.alias("tags"),
        fields.alias("fields"),
    )


def _escape(s: str) -> str:
    """Escape line-protocol delimiters in measurements/tags/field keys.
    Known protocol limitation (shared by influxdb-java): the protocol
    defines no escape for a literal backslash, so an identifier ENDING
    in ``\\`` is ambiguous on the wire (``foo\\`` + ``,`` reads as an
    escaped comma) — such identifiers are unrepresentable, not
    mis-escaped here. The round-trip property test pins the full
    representable domain (printable ASCII minus backslash/quote)."""
    return s.replace(",", r"\,").replace(" ", r"\ ").replace("=", r"\=")


def _as_dict(v) -> dict:
    """A tags/fields cell → plain dict: accepts a struct Row (typed
    fields), a MAP cell, or an already-plain dict; None → {}."""
    if v is None:
        return {}
    return v.asDict() if hasattr(v, "asDict") else dict(v)


def _renderable_fields(fields: dict) -> dict:
    """The subset of a point's fields line protocol can carry: None is
    dropped (the protocol has no null) and so are non-finite floats —
    InfluxDB has no NaN/±inf field value, ``repr()`` would put a bare
    ``nan``/``inf`` token on the wire, and since a batch ships as one
    POST body that single token 400s EVERY line in the batch (ADVICE
    r8). A NaN aggregate is 'no measurement', same as null."""
    return {
        k: v
        for k, v in fields.items()
        if v is not None and not (isinstance(v, float) and not math.isfinite(v))
    }


def _field_value(v) -> str:
    """Render one field value per line protocol: integers carry the ``i``
    suffix (the typing the reference gets from influxdb-java rendering
    its Long fields, Main.java:230-231), floats are bare, booleans are
    ``true``/``false``, everything else is a quoted string with ``\\``
    and ``\"`` escaped. Non-finite floats never reach here — callers
    pass through ``_renderable_fields`` first."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return f"{v}i"
    if isinstance(v, float):
        return repr(v)
    s = str(v).replace("\\", "\\\\").replace('"', '\\"')
    return f'"{s}"'


def influx_line(measurement: str, tags: dict, fields: dict, ts_ns: int) -> str:
    """One InfluxDB line-protocol record (the wire format the reference's
    influxdb-java client produces from a Point). ``tags``/``fields``
    accept plain dicts or struct Rows; None-valued and non-finite-float
    fields are dropped (line protocol has no null and InfluxDB no
    NaN/inf). A record with NO renderable fields raises rather than
    serializing: line protocol requires at least one field, InfluxDB
    answers 400 to a fieldless line — and since a batch ships as one
    POST body, one invalid line would poison every line in the batch.
    The reference's client enforces the same invariant (influxdb-java's
    Point builder rejects an empty field map), so the SERIALIZER fails
    loudly; the shipped writer (influx_lines_foreach_batch)
    pre-filters such points with a logged count
    instead, so one all-null aggregate row (e.g. an outer-join result)
    degrades to a dropped point, not a crash-looping streaming query
    (ADVICE r8)."""
    tags, fields = _as_dict(tags), _renderable_fields(_as_dict(fields))
    tag_part = "".join(f",{_escape(k)}={_escape(str(v))}" for k, v in sorted(tags.items()))
    field_part = ",".join(
        f"{_escape(k)}={_field_value(v)}" for k, v in sorted(fields.items())
    )
    if not field_part:
        raise ValueError(
            f"influx_line: point for measurement {measurement!r} at ts {ts_ns} "
            "has no renderable (non-null, finite) fields; line protocol requires "
            "at least one field (a fieldless line would 400 the whole batch POST)"
        )
    return f"{_escape(measurement)}{tag_part} {field_part} {ts_ns}"


def _ts_ns(ts) -> int:
    """datetime → exact ns since epoch. ``int(ts.timestamp() * 1e9)``
    is wrong for sub-second timestamps: float64 has ~256 ns ULP at
    2024-epoch magnitude, so microsecond-resolution points land up to
    ~40 ns off the wire value influxdb-java writes (measured; the
    reference's whole-second window-end timestamps happen to be exact
    either way). Split instead: the integer second through the float
    (exact — the fraction is < 1 and cannot carry across the second
    boundary) + the datetime's own microsecond field."""
    return math.floor(ts.timestamp()) * 1_000_000_000 + ts.microsecond * 1_000


def _render_rows(rows, batch_id) -> list[str]:
    """Rows → line protocol, DROPPING points with no renderable fields
    (logged with a count) instead of letting influx_line raise: inside
    foreachBatch an exception fails the whole streaming query and a
    restart replays the same batch — a crash LOOP from one all-null
    aggregate row. A dropped point + warning is the sink-appropriate
    degradation (at-least-once delivery already tolerates gaps)."""
    lines: list[str] = []
    skipped = 0
    for r in rows:
        fields = _renderable_fields(_as_dict(r["fields"]))
        if not fields:
            skipped += 1
            continue
        lines.append(influx_line(r["measurement"], r["tags"], fields, _ts_ns(r["ts"])))
    if skipped:
        _LOG.warning(
            "influx sink: dropped %d fieldless point(s) (all fields null/non-finite) "
            "in batch %s",
            skipped,
            batch_id,
        )
    return lines


def influx_lines_foreach_batch(
    url: str | None = None,
    writer: Callable[[list[str]], None] | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: points DataFrame → line protocol → writer.

    ``writer`` defaults to an HTTP POST to ``url`` (InfluxDB /write) when
    given, else a no-op collector — tests inject their own writer.
    The collect here is safe: input is the *aggregated* result stream
    (windows/top-1 rows), orders of magnitude smaller than the source.
    Points with no renderable fields are dropped with a logged count
    (see _render_rows), never shipped and never raised.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        lines = _render_rows(batch_df.collect(), batch_id)
        if writer is not None:
            writer(lines)
        elif url is not None:  # pragma: no cover - needs a live InfluxDB
            _post_lines(url, lines)

    return write_batch


def _post_lines(url: str, lines: list[str]) -> None:  # pragma: no cover
    import urllib.request

    req = urllib.request.Request(url, data="\n".join(lines).encode(), method="POST")
    urllib.request.urlopen(req, timeout=10)

"""InfluxDB line-protocol sink and source, as pure column expressions.

The reference's write path serializes every point to line protocol via
the influx client (``client.NewPoint`` pkg/agent/client.go:471-477,
written at client.go:531-559); its read path gets JSON back. A
Spark-first engine keeps data columnar end-to-end, but interop with
the Influx ecosystem still needs the wire format — so this module
provides both directions as Catalyst expressions (regexp/concat — JVM
whole-stage-codegen, no Python in the row path):

* :func:`to_line_protocol` — DataFrame → one ``line`` string column:
  ``measurement,tag=v field=v,field2=v ts_ns`` with spec escaping
  (tags escape ``,= `` and ``\\``; string fields are quoted with
  ``\\"`` escapes; integers carry the ``i`` suffix; null fields are
  OMITTED — the reference's sparse-field semantics, SURVEY §1.1).
* :func:`parse_line_protocol` — lines → typed columns, schema-on-read
  like the reference's field map (``ReadDB``'s typed decode,
  client.go:430-466): the caller declares tag names and field types.

Parsing strategy (regex, quote-aware): split ``head fields ts`` with
one anchored regex (greedy middle — quoted field values may contain
spaces; the nanosecond timestamp after the LAST space is unambiguous),
then tokenize the field segment with ``regexp_extract_all`` whose
pattern consumes quoted strings atomically, so separators inside
quotes never split a token. Declared tags are extracted individually
from the head (escaped separators honored).

Scale: both directions are narrow per-row transforms — no shuffle, no
UDF; they pipeline into whatever scan/write surrounds them and
whole-stage-codegen fuses the regex chain. At 100 TB this is the
format boundary for a DSv2 Influx connector; the expressions are the
connector's codec either way.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: field type names accepted by parse_line_protocol (the reference's
#: field-schema types, SURVEY §1.2; uint maps to decimal like X5)
FIELD_TYPES = ("float", "integer", "unsigned", "boolean", "string")

#: file LineProtocolSink writes into each stage before its Spark job
#: (a leading ``_`` keeps it out of every parquet reader)
_STAGE_MARKER = "_write"


def _esc_name(c: Column) -> Column:
    """Escape a measurement/tag/field-key token: ``\\`` ``,`` ``=`` and space."""
    return F.regexp_replace(c, r"([,= \\])", r"\\$1")


def _esc_measurement(c: Column) -> Column:
    """Measurements escape commas and spaces (``=`` is legal there)."""
    return F.regexp_replace(c, r"([, \\])", r"\\$1")


def _esc_string_field(c: Column) -> Column:
    return F.concat(
        F.lit('"'), F.regexp_replace(c, r'(["\\])', r"\\$1"), F.lit('"')
    )


def _unesc(c: Column) -> Column:
    """Reverse any ``\\x`` escape in one pass."""
    return F.regexp_replace(c, r"\\(.)", r"$1")


def _fmt_field(name: str, dtype: str) -> Column:
    """``name=value`` token, or NULL when the field is null (concat_ws
    then drops it — sparse fields are omitted, not written as null)."""
    col = F.col(name)
    if dtype == "integer":
        val = F.concat(col.cast("string"), F.lit("i"))
    elif dtype == "unsigned":
        val = F.concat(col.cast("decimal(20,0)").cast("string"), F.lit("u"))
    elif dtype == "boolean":
        val = F.when(col, F.lit("true")).otherwise(F.lit("false"))
    elif dtype == "string":
        val = _esc_string_field(col)
    else:  # float
        val = col.cast("string")
    return F.when(
        col.isNotNull(), F.concat(_esc_name(F.lit(name)), F.lit("="), val)
    )


def to_line_protocol(
    df: DataFrame,
    measurement: str | Column,
    tag_cols: list[str],
    field_types: dict[str, str],
    time_ns_col: str = "ts_ns",
    out_col: str = "line",
) -> DataFrame:
    """Serialize rows to one line-protocol string column.

    ``measurement`` may be a literal name or a Column (per-row
    measurement, the multi-table copy case). Tags are written in the
    given order with null tags omitted; fields per ``field_types``
    (name → float|integer|unsigned|boolean|string)."""
    meas = (
        _esc_measurement(F.lit(measurement))
        if isinstance(measurement, str)
        else _esc_measurement(measurement)
    )
    tag_tokens = [
        F.when(
            F.col(t).isNotNull(),
            F.concat(
                _esc_name(F.lit(t)), F.lit("="), _esc_name(F.col(t).cast("string"))
            ),
        )
        for t in tag_cols
    ]
    head = F.concat_ws(",", meas, *tag_tokens)
    fields = F.concat_ws(
        ",", *[_fmt_field(n, dt) for n, dt in field_types.items()]
    )
    line = F.concat_ws(
        " ", head, fields, F.col(time_ns_col).cast("long").cast("string")
    )
    return df.select(line.alias(out_col))


#: one field token: key=( quoted-string | bare-value ); quoted strings
#: are consumed atomically so ``,``/``=``/spaces inside never split
_FIELD_TOKEN = r'((?:\\.|[^,=\\"])+)=("(?:[^"\\]|\\.)*"|(?:\\.|[^,\\"])+)'


def parse_line_protocol(
    lines: DataFrame,
    tag_cols: list[str],
    field_types: dict[str, str],
    line_col: str = "line",
    with_conflicts: bool = False,
) -> DataFrame:
    """Parse line-protocol strings into typed columns:
    ``measurement`` + one string column per declared tag + one typed
    column per declared field + ``ts_ns`` (long). Undeclared
    tags/fields are ignored; declared-but-absent ones come back null
    (schema-on-read, exactly the reference's field-map decode).
    ``with_conflicts`` appends a ``_type_conflict`` boolean flagging
    lines whose raw token for a declared field does not spell that
    field's type (InfluxDB's partial-write field-type-conflict
    condition) — conflicting values themselves decode as null, never
    as an executor-side cast error.

    ``ts_ns`` is null for a line without a trailing timestamp and for
    one outside the long range; consumers decide whether that is a
    rejection. A field key repeated within one line takes its LAST
    value (``value=1,value=2`` reads ``value`` as 2)."""
    raw = F.col(line_col)
    head = F.regexp_extract(raw, r"^((?:\\.|[^ \\])+) ", 1)
    ts = F.regexp_extract(raw, r" (\d+)$", 1).try_cast("long")
    fseg = F.regexp_extract(raw, r"^(?:\\.|[^ \\])+ (.*) \d+$", 1)

    meas = _unesc(F.regexp_extract(head, r"^((?:\\.|[^,\\])+)", 1))

    def tag(t: str) -> Column:
        pat = r",%s=((?:\\.|[^,\\])+)" % t
        v = F.regexp_extract(head, pat, 1)
        return F.when(v != "", _unesc(v)).alias(t)

    # tokenize into keys and raw values (same matches, so positions
    # align), then look each declared key up in the REVERSED arrays: a
    # key repeated within a line takes its last value. Keys unescape in
    # one pass over their newline-joined string (no line holds one).
    keys = F.regexp_extract_all(fseg, F.lit(_FIELD_TOKEN), 1)
    keys = F.reverse(F.split(_unesc(F.array_join(keys, "\n")), "\n"))
    vals = F.reverse(F.regexp_extract_all(fseg, F.lit(_FIELD_TOKEN), 2))

    def raw_value(name: str) -> Column:
        return F.get(vals, F.array_position(keys, F.lit(name)) - 1)

    def _valid(v: Column, dtype: str) -> Column:
        """Does the raw token spell a value of the DECLARED type?
        (Influx line protocol types are syntactic: 1i integer, 1u
        unsigned, quoted string, t/f boolean, bare number float.)"""
        if dtype == "integer":
            return v.rlike(r"^-?\d+i$")
        if dtype == "unsigned":
            return v.rlike(r"^\d+u$")
        if dtype == "boolean":
            return v.isin(
                "true", "t", "True", "TRUE", "false", "f", "False", "FALSE"
            )
        if dtype == "string":
            return v.rlike(r'^".*"$')
        return v.rlike(r"^[-+]?(\d+(\.\d*)?|\.\d+)([eE][-+]?\d+)?$")

    def field(name: str, dtype: str) -> Column:
        # try_cast, not cast: a malformed token must surface as the
        # type-conflict diagnostic below, never an executor-side ANSI
        # cast exception halfway through a write job
        v = raw_value(name)
        if dtype == "integer":
            out = F.try_to_number(
                F.regexp_replace(v, r"i$", ""), F.lit("S" + "9" * 18)
            ).cast("long")
        elif dtype == "unsigned":
            out = F.try_to_number(
                F.regexp_replace(v, r"u$", ""), F.lit("9" * 20)
            ).cast("decimal(20,0)")
        elif dtype == "boolean":
            out = F.when(v.isin("true", "t", "True", "TRUE"), F.lit(True)).when(
                v.isin("false", "f", "False", "FALSE"), F.lit(False)
            )
        elif dtype == "string":
            out = _unesc(v.substr(F.lit(2), F.length(v) - 2))
        else:  # float
            out = F.when(_valid(v, "float"), v).cast("double")
        return F.when(_valid(v, dtype), out).alias(name)

    cols: list[Column] = [meas.alias("measurement")]
    cols += [tag(t) for t in tag_cols]
    for n, dt in field_types.items():
        cols.append(field(n, dt))
    cols.append(ts.alias("ts_ns"))
    if with_conflicts:
        conflict = F.lit(False)
        for n, dt in field_types.items():
            conflict = conflict | (
                raw_value(n).isNotNull() & ~_valid(raw_value(n), dt)
            )
        cols.append(conflict.alias("_type_conflict"))
    return lines.select(*cols)


class LineProtocolSink:
    """HTTP-ingestion sink: accept an InfluxDB ``/write`` body (many
    line-protocol lines, possibly mixed measurements) and land the
    typed rows in per-measurement parquet directories
    (``<root>/<measurement>/*.parquet``).

    This is the receiving end of the reference's WriteDB
    (pkg/agent/client.go:531-559 posts exactly these bodies) — with
    it, a syncflux pair can use this engine as its slave. Per-request
    bodies are HTTP-bounded (the reference splits at
    max-points-on-single-write, 10k points), so the driver-side
    measurement routing is O(request), not a data-plane loop; bulk
    ingestion of LP *files* goes through :func:`parse_line_protocol`
    on a distributed scan instead.

    One Spark job per measurement of a body, and no Python rows
    handed to Spark: the measurement's lines land as UTF-8 text files
    in a hidden stage directory inside the measurement directory
    (``<root>/<measurement>/.write-<uuid>/_lines/``; Spark's reader
    skips both names), Spark's text source reads them back, and the
    parse is written once into the same stage. The bad-timestamp /
    type-conflict counts ride that write pass as a ``df.observe``
    observation instead of a second parse. A body publishes only once
    every measurement's stage passes: the staged part files are
    renamed into the measurement directory under
    ``locking.table_lock`` — the lock ``compact_parquet`` holds for
    its read and swap — so a published
    file is either compacted in or lands in the swapped-in directory.
    A rejected body (or one whose stage a concurrent compaction moved
    away) lands nothing; a crashed writer's stage is swept by
    ``compact.clean_stale_staging``.

    Append-only by design: InfluxDB upserts duplicate points at write
    time; here duplicates collapse at read time via the last-write-
    wins operator (queries.py::ts_upsert_collapse), and small files
    accrete until operators/compact.py rewrites them — both documented
    engine-wide conventions.

    ``schemas``: measurement → (tag_cols, {field: influx_type}).
    """

    def __init__(self, spark, root: str, schemas: dict[str, tuple[list[str], dict[str, str]]]):
        self.spark = spark
        self.root = root
        self.schemas = schemas

    #: ns multipliers for the /write ``precision=`` parameter
    #: (InfluxDB 1.x accepts ns, u, ms, s, m, h; default ns)
    PRECISION_NS = {
        "ns": 1,
        "n": 1,
        "u": 1_000,
        "µ": 1_000,
        "us": 1_000,
        "ms": 1_000_000,
        "s": 10**9,
        "m": 60 * 10**9,
        "h": 3_600 * 10**9,
    }

    def write(self, body: str, precision: str = "ns") -> int:
        """Parse + land one request body; returns points written.
        Raises ValueError for unknown measurements, unparseable
        lines, or a bad ``precision`` (the caller maps this to HTTP
        400) — and then nothing of the body lands. ``precision``
        scales bare line timestamps to ns — the reference's WriteDB
        posts with a configurable precision (pkg/agent/client.go) and
        Telegraf commonly posts seconds."""
        import re

        if precision not in self.PRECISION_NS:
            raise ValueError(f"invalid precision {precision!r}")
        factor = self.PRECISION_NS[precision]
        lines = [ln for ln in body.splitlines() if ln.strip()]
        if not lines:
            return 0
        by_meas: dict[str, list[str]] = {}
        for ln in lines:
            m = re.match(r"^((?:\\.|[^,\\ ])+)", ln)
            if not m:
                raise ValueError(f"unparseable line: {ln[:80]!r}")
            meas = m.group(1).replace("\\,", ",").replace("\\ ", " ")
            if meas not in self.schemas:
                raise ValueError(f"unknown measurement {meas!r}")
            by_meas.setdefault(meas, []).append(ln)
        stages: dict[str, str] = {}
        try:
            for meas, ls in by_meas.items():
                stages[meas] = os.path.join(
                    self.root, meas, f".write-{uuid.uuid4().hex}"
                )
                self._stage(stages[meas], meas, ls, factor)
            self._publish(stages)
        finally:
            for stage in stages.values():
                shutil.rmtree(stage, ignore_errors=True)
        return len(lines)

    def _stage(self, stage: str, meas: str, lines: list[str], factor: int) -> None:
        """Parse ``lines`` and write them, in one Spark job, into the
        fresh hidden directory ``stage``. The lines go to Spark as
        UTF-8 text files under ``<stage>/_lines/``, one per default
        parallelism slot (at most one per line), read back with
        Spark's text source, so no Python rows cross into the JVM and
        the parse keeps one input partition per file. The stage holds
        a ``_write`` marker so that :meth:`_publish` can tell it from a
        directory the job re-created after a compaction swap moved the
        original away. Raises ValueError when a line has no timestamp,
        one out of range after ``factor`` scaling, or a field type
        conflict."""
        from pyspark.sql import Observation

        tags, fields = self.schemas[meas]
        src = os.path.join(stage, "_lines")
        os.makedirs(src)
        open(os.path.join(stage, _STAGE_MARKER), "w").close()
        n = min(len(lines), self.spark.sparkContext.defaultParallelism)
        cuts = [i * len(lines) // n for i in range(n + 1)]
        files = [os.path.join(src, f"{i}.lp") for i in range(n)]
        for i, path in enumerate(files):
            with open(path, "w", encoding="utf-8") as f:
                f.write("\n".join(lines[cuts[i]:cuts[i + 1]]))
        # the files by name, not the hidden directory: Spark warns on
        # every read of a path whose own name starts with "_" or "."
        parsed = parse_line_protocol(
            self.spark.read.text(files), tags, fields,
            line_col="value", with_conflicts=True,
        )
        if factor != 1:
            parsed = parsed.withColumn(
                "ts_ns", F.try_multiply(F.col("ts_ns"), F.lit(factor))
            )
        obs = Observation()
        parsed = parsed.observe(
            obs,
            F.sum(F.col("ts_ns").isNull().cast("long")).alias("bad_ts"),
            F.sum(F.col("_type_conflict").cast("long")).alias("conflicts"),
        )
        parsed.drop("measurement", "_type_conflict").write.mode(
            "append"
        ).parquet(stage)
        diag = obs.get
        if diag["bad_ts"]:
            raise ValueError(
                f"{diag['bad_ts']} line(s) missing a timestamp or "
                f"carrying one out of range"
            )
        if diag["conflicts"]:
            # InfluxDB 1.x: partial write rejected with a field
            # type conflict — mapped to HTTP 400 by the caller
            raise ValueError(
                f"field type conflict: {diag['conflicts']} line(s) for "
                f"measurement {meas!r} carry a value whose syntax "
                f"does not match the declared field type"
            )

    def _publish(self, stages: dict[str, str]) -> None:
        """Rename every stage's part files into its measurement
        directory, holding each measurement's table lock (taken in
        name order), after checking that every stage is still the one
        :meth:`_stage` made — a compaction swap between the stage
        write and this lock moved it away with the old directory."""
        from contextlib import ExitStack

        from syncflux_spark.locking import table_lock

        with ExitStack() as locks:
            for meas in sorted(stages):
                locks.enter_context(table_lock(os.path.join(self.root, meas)))
            for meas, stage in stages.items():
                if not os.path.exists(os.path.join(stage, _STAGE_MARKER)):
                    raise RuntimeError(
                        f"stage of measurement {meas!r} was moved away by "
                        "a concurrent compaction; nothing was written"
                    )
            for meas, stage in stages.items():
                dest = os.path.join(self.root, meas)
                for f in os.listdir(stage):
                    if f.startswith("part-"):
                        os.replace(os.path.join(stage, f), os.path.join(dest, f))

    def read_measurement(self, measurement: str):
        return self.spark.read.parquet(os.path.join(self.root, measurement))

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

Parsing strategy: the timestamp is the text after the LAST space
(quoted field values may hold spaces; a timestamp holds none). A line
with an escape or a quoted string splits its head at the first
unescaped space with a regex, and a tokenizer (``regexp_extract_all``)
whose pattern consumes quoted strings atomically splits the fields, so
separators inside quotes never split a token; declared tags come from
the head one regex each (escaped separators honored). A *plain* line,
with neither, needs none of that: ``substring_index`` and ``locate``
split it. :class:`LineProtocolSink` sends a body's plain lines through
those lean steps, the others through the regex ones.

Scale: both directions are narrow per-row transforms — no shuffle, no
UDF; they pipeline into whatever scan/write surrounds them and
whole-stage-codegen fuses each projection. At 100 TB this is the
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
    return F.regexp_replace(c, r"(?s)\\(.)", r"$1")


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

#: the boolean spellings line protocol accepts
_TRUE = ("t", "T", "true", "True", "TRUE")
_FALSE = ("f", "F", "false", "False", "FALSE")


def _valid(v: Column, dtype: str) -> Column:
    """Does the raw token spell a value of the DECLARED type? (Influx
    line protocol types are syntactic: 1i integer, 1u unsigned, quoted
    string, t/f boolean, bare number float.)"""
    if dtype == "integer":
        return v.rlike(r"^-?\d+i$")
    if dtype == "unsigned":
        return v.rlike(r"^\d+u$")
    if dtype == "boolean":
        return v.isin(*_TRUE, *_FALSE)
    if dtype == "string":
        # the tokenizer only yields a leading quote with its closing one
        return v.startswith('"')
    return v.rlike(r"^[-+]?(\d+(\.\d*)?|\.\d+)([eE][-+]?\d+)?$")


def _typed(v: Column, dtype: str) -> Column:
    """The value of a raw token that :func:`_valid` accepted, null when
    it lies outside the type's range. try_cast, not cast: nothing here
    may raise an executor-side ANSI error halfway through a write
    job."""
    if dtype in ("integer", "unsigned"):
        digits = F.substr(v, F.lit(1), F.length(v) - 1)
        return digits.try_cast("long" if dtype == "integer" else "decimal(20,0)")
    if dtype == "boolean":
        return v.isin(*_TRUE)
    if dtype == "string":
        return _unesc(v.substr(F.lit(2), F.length(v) - 2))
    return v.try_cast("double")


def _is_plain_line(line: str) -> bool:
    """A line with no backslash and no double quote: nothing in it is
    escaped or quoted, so :func:`_front_steps` may split it with plain
    string functions."""
    return "\\" not in line and '"' not in line


def _ts_ok(tst: Column) -> Column:
    """Is the timestamp token an integer?"""
    return tst.rlike(r"^-?\d+$")


def _front_steps(
    tag_cols: list[str], names: list[str], line_col: str, plain: bool
) -> list[list[Column]]:
    """``select`` lists that take a frame with a ``line_col`` string
    column to ``measurement``, the tags, the timestamp token ``_tst``
    and one raw token ``_r<i>`` per field in ``names`` (null when the
    line lacks it). Each step computes what the next reads more than
    once (the head, the field segment, the token arrays), so Catalyst
    evaluates it once per row instead of inlining it into every
    consumer.

    ``plain`` steps are only for lines that :func:`_is_plain_line`
    accepts: ``substring_index`` and ``locate`` split them. The others
    honour escapes and quotes with regexes: the head ends at the first
    unescaped space, and a tokenizer whose pattern consumes quoted
    strings atomically splits the fields, so separators inside quotes
    never split a token. Either way the timestamp is the text after
    the last space (quoted values may hold spaces; a timestamp holds
    none)."""
    raw = F.col(line_col)
    head, tst, fseg = F.col("_head"), F.col("_tst"), F.col("_fseg")
    head_of = (
        F.substring_index(raw, " ", 1)
        if plain
        else F.regexp_extract(raw, r"^((?:\\.|[^ \\])+) ", 1)
    )
    steps = [[raw, head_of.alias("_head"),
              F.substring_index(raw, " ", -1).alias("_tst")]]

    # the fields: between the head and the timestamp's space; a plain
    # segment gets a leading comma, so ",name=" finds every key
    fields_of = F.substr(
        raw, F.length(head) + 2, F.length(raw) - F.length(head) - F.length(tst) - 2
    )
    if plain:
        fields_of = F.concat(F.lit(","), fields_of)
        meas = F.substring_index(head, ",", 1)
    else:
        meas = _unesc(F.regexp_extract(head, r"^((?:\\.|[^,\\])+)", 1))

    def tag(t: str) -> Column:
        if plain:
            key = f",{t}="
            at = F.locate(key, head)
            v = F.substring_index(F.substr(head, at + len(key)), ",", 1)
            return F.when((at > 0) & (v != ""), v).alias(t)
        v = F.regexp_extract(head, r",%s=((?:\\.|[^,\\])+)" % t, 1)
        return F.when(v != "", _unesc(v)).alias(t)

    steps.append(
        [meas.alias("measurement")] + [tag(t) for t in tag_cols]
        + [tst, F.when(_ts_ok(tst), fields_of).alias("_fseg")]
    )

    keep = [F.col("measurement"), *map(F.col, tag_cols), tst]
    if plain:
        def raw_value(name: str) -> Column:
            # the text after the LAST ",name=", up to the next comma
            key = f",{name}="
            v = F.substring_index(F.substring_index(fseg, key, -1), ",", 1)
            return F.when((F.instr(fseg, key) > 0) & (v != ""), v)
    else:
        # keys and raw values of the same matches, so positions align,
        # REVERSED so that a key repeated within a line takes its last
        # value. Keys unescape in one pass over their newline-joined
        # string (no line holds one).
        keys = F.regexp_extract_all(fseg, F.lit(_FIELD_TOKEN), 1)
        keys = F.reverse(F.split(_unesc(F.array_join(keys, "\n")), "\n"))
        vals = F.reverse(F.regexp_extract_all(fseg, F.lit(_FIELD_TOKEN), 2))
        steps.append(keep + [keys.alias("_keys"), vals.alias("_vals")])

        def raw_value(name: str) -> Column:
            at = F.array_position(F.col("_keys"), F.lit(name))
            return F.get(F.col("_vals"), at - 1)

    steps.append(keep + [raw_value(n).alias(f"_r{i}") for i, n in enumerate(names)])
    return steps


def _typed_steps(
    tag_cols: list[str],
    field_types: dict[str, str],
    with_conflicts: bool,
    ts_factor: int,
) -> list[list[Column]]:
    """``select`` lists that take :func:`_front_steps`' output to the
    columns :func:`parse_line_protocol` documents, with ``ts_ns``
    scaled by ``ts_factor``. A field reads null when its raw token does
    not spell the field's type or its value lies outside the type's
    range; either is a conflict, so the conflict flag only compares
    each raw token with its value."""
    tst = F.col("_tst")
    ts = F.when(_ts_ok(tst), tst.try_cast("long"))
    if ts_factor != 1:
        ts = F.try_multiply(ts, F.lit(ts_factor))
    raws = [F.col(f"_r{i}") for i in range(len(field_types))]
    keep = [F.col("measurement"), *map(F.col, tag_cols)]
    typed = keep + [
        F.when(_valid(r, dt), _typed(r, dt)).alias(n)
        for r, (n, dt) in zip(raws, field_types.items())
    ] + [ts.alias("ts_ns")]
    if not with_conflicts:
        return [typed]
    conflict = F.lit(False)
    for r, n in zip(raws, field_types):
        conflict = conflict | (r.isNotNull() & F.col(n).isNull())
    out = keep + [F.col(n) for n in field_types] + [F.col("ts_ns")]
    return [typed + raws, out + [conflict.alias("_type_conflict")]]


def _apply(df: DataFrame, steps: list[list[Column]]) -> DataFrame:
    for cols in steps:
        df = df.select(*cols)
    return df


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
    value (``value=1,value=2`` reads ``value`` as 2).

    Every line takes the escape- and quote-aware steps here, since a
    frame's lines are not known in advance; :class:`LineProtocolSink`
    sends the plain lines of a body through the lean steps."""
    front = _front_steps(tag_cols, list(field_types), line_col, plain=False)
    typed = _typed_steps(tag_cols, field_types, with_conflicts, 1)
    return _apply(lines, front + typed)


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
    parse is written once into the same stage; the parse columns are
    built once per measurement and precision and shared by every
    request. The bad-timestamp /
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
        #: (measurement, ns factor) -> the parse steps, the write-pass
        #: checks and the output columns, built on first use
        self._plans: dict[tuple[str, int], tuple] = {}
        self._parallelism = spark.sparkContext.defaultParallelism

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
        # "\n" ends a line, as in InfluxDB; str.splitlines() would also
        # split on \x1c, \x85, U+2028 and the like inside a line
        lines = [ln.removesuffix("\r") for ln in body.split("\n")]
        lines = [ln for ln in lines if ln.strip(" \t")]
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
        UTF-8 text files under ``<stage>/_lines/``, read back with
        Spark's text source, so no Python rows cross into the JVM. The
        plain lines (:func:`_is_plain_line`) and the others go to files
        of their own and take their own parse steps; each kind is
        spread over one file per default parallelism slot (at most one
        per line), so the parse keeps one input partition per file.
        The stage holds a ``_write`` marker so that :meth:`_publish`
        can tell it from a directory the job re-created after a
        compaction swap moved the original away. Raises ValueError
        when a line has no timestamp, one out of range after
        ``factor`` scaling, or a field type conflict."""
        from pyspark.sql import Observation

        fronts, typed, checks, out = self._plan(meas, factor)
        src = os.path.join(stage, "_lines")
        os.makedirs(src)
        open(os.path.join(stage, _STAGE_MARKER), "w").close()
        by_kind: dict[bool, list[str]] = {True: [], False: []}
        for ln in lines:
            by_kind[_is_plain_line(ln)].append(ln)
        parts = []
        for plain, kind in by_kind.items():
            if not kind:
                continue
            n = min(len(kind), self._parallelism)
            cuts = [i * len(kind) // n for i in range(n + 1)]
            files = [os.path.join(src, f"{int(plain)}-{i}.lp") for i in range(n)]
            for i, path in enumerate(files):
                with open(path, "w", encoding="utf-8") as f:
                    f.write("\n".join(kind[cuts[i]:cuts[i + 1]]))
            # the files by name, not the hidden directory: Spark warns
            # on every read of a path whose own name starts with "_"/"."
            text = self.spark.read.text(files, lineSep="\n")
            parts.append(_apply(text, fronts[plain]))
        parsed = parts[0] if len(parts) == 1 else parts[0].union(parts[1])
        obs = Observation()
        _apply(parsed, typed).observe(obs, *checks).select(*out).write.mode(
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
                f"measurement {meas!r} carry a value that does not "
                f"spell the declared field type or lies outside its range"
            )

    def _plan(self, meas: str, factor: int) -> tuple:
        """The columns :meth:`_stage` applies for ``meas`` at ``factor``:
        the front steps for plain and for other lines, the typed steps,
        the two write-pass checks (bad timestamps, type conflicts) and
        the landed columns. Built once per measurement and precision
        and shared by every request; a race builds the same thing
        twice."""
        plan = self._plans.get((meas, factor))
        if plan is None:
            tags, fields = self.schemas[meas]
            fronts = {
                plain: _front_steps(tags, list(fields), "value", plain)
                for plain in (True, False)
            }
            checks = [
                F.sum(F.col("ts_ns").isNull().cast("long")).alias("bad_ts"),
                F.sum(F.col("_type_conflict").cast("long")).alias("conflicts"),
            ]
            out = [F.col(c) for c in [*tags, *fields, "ts_ns"]]
            typed = _typed_steps(tags, fields, True, factor)
            plan = self._plans[(meas, factor)] = (fronts, typed, checks, out)
        return plan

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

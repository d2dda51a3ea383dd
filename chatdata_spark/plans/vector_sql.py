"""Vector SQL dialect pre-pass: ClickHouse/MyScale SQL → Spark SQL.

The reference teaches an LLM to emit MyScale-dialect SQL containing two
fictions — ``NeuralArray(entity)`` (an embedding that doesn't exist yet,
prompts.py:34) and ``DISTANCE(column, vector)`` (a DB-native ANN function,
prompts.py:31-33) — then post-processes the string before execution
(vector_sql_output_parser.py:6-23 splices the real embedding;
:16-23 rewrites the SELECT list). MyScale executes the rest of the
ClickHouse dialect natively.

Here the whole dialect is compiled to **plain Spark SQL**, so Catalyst sees
one ordinary plan: predicate pushdown, column pruning and
``TakeOrderedAndProject`` all apply. ``DISTANCE`` becomes a JVM-side
higher-order-function expression (functions/vector.py:cosine_distance_sql)
— the hot path never leaves the JVM, no Python UDF.

Rewrites, in order:
1. ``NeuralArray(x)``    → float64 array literal via the embedder (V2).
2. ``DISTANCE(col, v)``  → round(cosine-distance expression, 6) (V1).
3. ``ORDER BY <expr> AS <alias>`` (ClickHouse-ism in the reference's kNN
   template, myscale_without_metadata.py:29-34) → alias hoisted into the
   SELECT list, ORDER BY references the alias.
4. ``PREWHERE`` → ``WHERE`` (P9 — Catalyst pushes it into the scan anyway).
5. ClickHouse scalar-function renames (SURVEY §2.9), including the
   arg-order swap ``arrayMap(fn, arr)`` → ``transform(arr, fn)`` and the
   type-aware ``length`` → ``size``/``length`` split.
6. Optional SELECT-list rewrite to ``must_have_columns`` (P2).

All rewriting is literal-aware (single-quoted strings are never scanned for
parens/keywords), mirroring where the reference itself does string splicing.
"""

from __future__ import annotations

import math
import re
from collections.abc import Callable, Sequence

from chatdata_spark.functions.vector import cosine_distance_sql, hash_embed


def _scan_balanced(sql: str, start: int) -> int:
    """Index just past the ')' matching the '(' at ``start`` (skips 'literals')."""
    depth = 0
    i = start
    n = len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            i += 1
            while i < n and sql[i] != "'":
                i += 2 if sql[i] == "\\" else 1
            i += 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise ValueError(f"unbalanced parens at {start}: {sql[start:start+40]!r}")


def _split_args(inner: str) -> list[str]:
    """Split a call's argument text on top-level commas (literal-aware)."""
    args, depth, buf, i, n = [], 0, [], 0, len(inner)
    while i < n:
        c = inner[i]
        if c == "'":
            j = i + 1
            while j < n and inner[j] != "'":
                j += 2 if inner[j] == "\\" else 1
            buf.append(inner[i : j + 1])
            i = j + 1
            continue
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        if c == "," and depth == 0:
            args.append("".join(buf).strip())
            buf = []
        else:
            buf.append(c)
        i += 1
    if buf:
        args.append("".join(buf).strip())
    return args


def _literal_spans(sql: str) -> list[tuple[int, int]]:
    """[start, end) spans of single-quoted literals, using the SAME
    backslash-escape rule as _scan_balanced/_split_args — one scanner
    definition of 'inside a string', so an escaped quote (``'it\\'s'``)
    can't desynchronize one pass against another."""
    spans, i, n = [], 0, len(sql)
    while i < n:
        if sql[i] == "'":
            j = i + 1
            while j < n and sql[j] != "'":
                j += 2 if sql[j] == "\\" else 1
            spans.append((i, min(j + 1, n)))
            i = j + 1
        else:
            i += 1
    return spans


def replace_calls(sql: str, name: str, build: Callable[[list[str]], str], max_iter: int = 100) -> str:
    """Replace every ``name(args...)`` call with ``build(args)`` output.

    Case-insensitive, balanced-paren, literal-aware. ``build`` receives the
    top-level argument strings (already-rewritten inner text)."""
    pat = re.compile(rf"(?<![\w.])({re.escape(name)})\s*\(", re.IGNORECASE)
    for _ in range(max_iter):
        # find first match outside string literals
        spans = _literal_spans(sql)
        m = next(
            (
                cand
                for cand in pat.finditer(sql)
                if not any(s <= cand.start() < e for s, e in spans)
            ),
            None,
        )
        if m is None:
            return sql
        open_paren = sql.index("(", m.end() - 1)
        end = _scan_balanced(sql, open_paren)
        args = _split_args(sql[open_paren + 1 : end - 1])
        sql = sql[: m.start()] + build(args) + sql[end:]
    raise ValueError(f"replace_calls({name}): too many iterations")


def _ch_array_literal_to_floats(text: str) -> list[float] | None:
    """Parse ``[1.0, 2.0, ...]`` / ``array(1.0, ...)`` to floats, else None."""
    t = text.strip()
    if t.startswith("[") and t.endswith("]"):
        inner = t[1:-1]
    elif t.lower().startswith("array(") and t.endswith(")"):
        inner = t[6:-1]
    else:
        return None
    try:
        return [float(x) for x in _split_args(inner)]
    except ValueError:
        return None


class VectorSQLDialect:
    """Configurable translator (one per table family / embedder).

    ``embedder`` replaces the reference's in-process sentence-transformer
    (build_all.py:17-30); ``array_columns`` drives the ``length``→``size``
    disambiguation; ``table_map`` renames ``db.table`` identifiers to the
    Spark view names.
    """

    def __init__(
        self,
        embedder: Callable[[str], Sequence[float]] | None = None,
        dim: int = 64,
        array_columns: Sequence[str] = (),
        table_map: dict[str, str] | None = None,
        round_digits: int = 6,
    ) -> None:
        self.embedder = embedder or (lambda t: hash_embed(t, dim))
        self.array_columns = set(array_columns)
        self.table_map = table_map or {}
        self.round_digits = round_digits

    # -- step 1: NeuralArray -------------------------------------------------
    def _splice_embeddings(self, sql: str) -> str:
        def build(args: list[str]) -> str:
            text = ",".join(args).strip().strip("'")
            vec = self.embedder(text)
            return "array(" + ",".join(repr(float(x)) for x in vec) + ")"

        return replace_calls(sql, "NeuralArray", build)

    # -- step 2: DISTANCE ------------------------------------------------------
    def _rewrite_distance(self, sql: str) -> str:
        def build(args: list[str]) -> str:
            if len(args) != 2:
                raise ValueError(f"DISTANCE expects 2 args, got {args}")
            col, vec = args
            floats = _ch_array_literal_to_floats(vec)
            if floats is not None:
                norm = math.sqrt(sum(x * x for x in floats))
                vec_expr = "array(" + ",".join(repr(float(x)) for x in floats) + ")"
                expr = cosine_distance_sql(col, vec_expr, vec_norm=norm)
            else:
                expr = cosine_distance_sql(col, f"CAST({vec} AS ARRAY<DOUBLE>)")
            return f"round({expr}, {self.round_digits})"

        return replace_calls(sql, "DISTANCE", build)

    # -- step 3: ORDER BY ... AS alias ----------------------------------------
    _ORDER_AS = re.compile(r"\bORDER\s+BY\b", re.IGNORECASE)

    def _hoist_order_alias(self, sql: str) -> str:
        m = self._ORDER_AS.search(sql)
        if not m:
            return sql
        # scan the ORDER BY expression to its end (depth-0 LIMIT/ASC/DESC/end)
        i, n = m.end(), len(sql)
        depth = 0
        end = n
        stop = re.compile(r"\b(LIMIT|ASC|DESC)\b", re.IGNORECASE)
        j = i
        while j < n:
            c = sql[j]
            if c == "'":
                j = sql.index("'", j + 1) + 1
                continue
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif depth == 0:
                s = stop.match(sql, j)
                if s:
                    end = j
                    break
            j += 1
        expr = sql[i:end].strip()
        am = re.search(r"\s+AS\s+(\w+)\s*$", expr, re.IGNORECASE)
        if not am:
            return sql
        alias = am.group(1)
        core = expr[: am.start()].strip()
        sel = re.search(r"\bSELECT\s+(DISTINCT\s+)?", sql, re.IGNORECASE)
        already_defined = re.search(
            rf"\bAS\s+{alias}\b", sql[sel.end() : m.start()], re.IGNORECASE
        )
        inject = "" if already_defined else f"{core} AS {alias}, "
        return sql[: sel.end()] + inject + sql[sel.end() : i] + f" {alias} " + sql[end:]

    # -- step 5: scalar renames -------------------------------------------------
    def _rename_functions(self, sql: str) -> str:
        def _format_date_time(a: list[str]) -> str:
            # CH formatDateTime(ts, 'fmt') with MySQL-style % codes →
            # Spark date_format Java pattern. Only the unambiguous codes
            # are mapped (%M means minute in old CH but month NAME in
            # MySQL-compat CH ≥ 23 — refuse it; %i is minute in both).
            # Raise on anything unmapped rather than silently mangling
            # the output (the toStartOfWeek ADVICE-r7 convention).
            fmt = a[1].strip()
            if not (fmt.startswith("'") and fmt.endswith("'")):
                raise ValueError(
                    "formatDateTime: only literal format strings are supported"
                )
            # %e dropped (ADVICE r9): CH/MySQL %e is SPACE-padded
            # day-of-month (' 9'), Java 'd' is unpadded ('9') — ambiguous
            # codes raise, the stated convention (%M precedent).
            codes = {"Y": "yyyy", "y": "yy", "m": "MM", "d": "dd", "H": "HH",
                     "i": "mm", "S": "ss", "s": "ss", "F": "yyyy-MM-dd",
                     "D": "MM/dd/yy", "T": "HH:mm:ss", "j": "DDD",
                     "%": "%"}
            out = []  # Java pattern fragments (Java-level quoting applied)
            lit: list[str] = []  # pending literal-alpha run

            def flush():
                # consecutive literal letters become ONE quoted run —
                # per-char quoting ('h''r''s') reads as h, literal-',
                # r, literal-', s in java.time, not "hrs". A run of ONLY
                # escaped quotes stays bare ('' per quote): wrapping it
                # ('''') would read as TWO literal quotes.
                if lit:
                    run = "".join(lit)
                    out.append(f"'{run}'" if run.strip("'") else run)
                    lit.clear()

            body = fmt[1:-1]
            i = 0
            while i < len(body):
                c = body[i]
                if c == "%":
                    if i + 1 >= len(body) or body[i + 1] not in codes:
                        nxt = body[i + 1] if i + 1 < len(body) else "<end>"
                        raise ValueError(
                            f"formatDateTime: unsupported format code %{nxt} "
                            "(supported: %Y %y %m %d %H %i %S %s %F %D %T %j %%)"
                        )
                    flush()
                    out.append(codes[body[i + 1]])
                    i += 2
                elif c == "'":
                    # inside a SQL literal a quote arrives SQL-escaped as
                    # '' — it must join the surrounding QUOTED RUN as the
                    # java.time in-section escaped quote ('o''clock'), not
                    # stand alone: adjacent sections merge ('o'''' parses
                    # the inner '' as an embedded quote, doubling it). A
                    # lone quote here would mean the surrounding SQL
                    # literal was malformed.
                    if i + 1 < len(body) and body[i + 1] == "'":
                        lit.append("''")
                        i += 2
                    else:
                        raise ValueError(
                            "formatDateTime: malformed quote in format literal"
                        )
                elif c.isalpha():
                    lit.append(c)
                    i += 1
                else:
                    flush()
                    out.append(c)
                    i += 1
            flush()
            # SQL-escape the finished Java pattern when splicing it back
            # into SQL text (every ' doubles) — emitting Java quotes raw
            # produced unparseable SQL for any alpha literal
            pattern = "".join(out).replace("'", "''")
            return f"date_format({a[0]}, '{pattern}')"

        def _to_start_of_week(a: list[str]) -> str:
            # ClickHouse default mode is 0 (Sunday-start week); mode 1 is the
            # ISO Monday-start, which is what Spark's date_trunc('WEEK') does.
            # Translate both; raise on the modes we don't implement instead of
            # silently dropping the argument (ADVICE r7).
            mode = a[1].strip() if len(a) > 1 else "0"
            if mode == "1":
                return f"date_trunc('WEEK', {a[0]})"
            if mode == "0":
                return (
                    f"(date_trunc('WEEK', ({a[0]}) + interval 1 day)"
                    f" - interval 1 day)"
                )
            raise ValueError(
                f"toStartOfWeek: unsupported mode {mode!r} (supported: 0, 1)"
            )

        def _range_translate(a: list[str]) -> str:
            # CH range(n) = [0 .. n-1]; Spark sequence(0, -1) would emit a
            # DESCENDING [0, -1] for n = 0, so guard the empty case. The
            # 2/3-arg start/step forms are refused (the arrayResize
            # convention: raise, never silently mangle). n splices twice —
            # literal/column args only.
            if len(a) != 1:
                raise ValueError(
                    "range: only the 1-arg form is translated"
                )
            return (
                f"(CASE WHEN {a[0]} <= 0 THEN CAST(array() AS ARRAY<BIGINT>) "
                f"ELSE sequence(CAST(0 AS BIGINT), CAST({a[0]} AS BIGINT) - 1) "
                f"END)"
            )

        simple = {
            "has": lambda a: f"array_contains({a[0]}, {a[1]})",
            "range": _range_translate,
            "arrayMax": lambda a: f"array_max({a[0]})",
            "arrayMin": lambda a: f"array_min({a[0]})",
            "arraySum": lambda a: f"aggregate({a[0]}, 0D, (acc, x) -> acc + CAST(x AS DOUBLE))",
            "arrayJoin": lambda a: f"explode({a[0]})",
            "groupArray": lambda a: f"collect_list({a[0]})",
            "arrayMap": lambda a: f"transform({a[1]}, {a[0]})",
            "arrayFilter": lambda a: f"filter({a[1]}, {a[0]})",
            "arrayStringConcat": lambda a: (
                f"array_join({a[0]}, {a[1]})" if len(a) > 1 else f"array_join({a[0]}, '')"
            ),
            "splitByChar": lambda a: f"split({a[1]}, {a[0]})",
            "parseDateTimeBestEffort": lambda a: f"to_timestamp({a[0]})",
            "toDate": lambda a: f"to_date({a[0]})",
            "toDateTime": lambda a: f"to_timestamp({a[0]})",
            "toInt64": lambda a: f"CAST({a[0]} AS BIGINT)",
            "toInt32": lambda a: f"CAST({a[0]} AS INT)",
            "toUInt64": lambda a: f"CAST({a[0]} AS BIGINT)",
            "toUInt32": lambda a: f"CAST({a[0]} AS INT)",
            "toFloat64": lambda a: f"CAST({a[0]} AS DOUBLE)",
            "toFloat32": lambda a: f"CAST({a[0]} AS FLOAT)",
            "toString": lambda a: f"CAST({a[0]} AS STRING)",
            "toJSONString": lambda a: f"to_json({a[0]})",
            "empty": lambda a: f"({a[0]} IS NULL OR length({a[0]}) = 0)",
            "notEmpty": lambda a: f"({a[0]} IS NOT NULL AND length({a[0]}) > 0)",
            "lowerUTF8": lambda a: f"lower({a[0]})",
            "upperUTF8": lambda a: f"upper({a[0]})",
            "lengthUTF8": lambda a: f"char_length({a[0]})",
            "toYear": lambda a: f"year({a[0]})",
            "toMonth": lambda a: f"month({a[0]})",
            "toDayOfMonth": lambda a: f"day({a[0]})",
            "toHour": lambda a: f"hour({a[0]})",
            "toStartOfDay": lambda a: f"date_trunc('DAY', {a[0]})",
            "toStartOfMonth": lambda a: f"trunc({a[0]}, 'month')",
            "toStartOfYear": lambda a: f"trunc({a[0]}, 'year')",
            "dateDiff": lambda a: f"timestampdiff({a[0].strip().strip(chr(39)).upper()}, {a[1]}, {a[2]})",
            "intDiv": lambda a: f"({a[0]} div {a[1]})",
            "modulo": lambda a: f"({a[0]} % {a[1]})",
            # higher-order predicates (ClickHouse puts the lambda FIRST)
            "arrayExists": lambda a: f"exists({a[1]}, {a[0]})",
            "arrayAll": lambda a: f"forall({a[1]}, {a[0]})",
            "arrayCount": lambda a: f"size(filter({a[1]}, {a[0]}))",
            # array utilities
            "arrayConcat": lambda a: f"concat({', '.join(a)})",
            "arrayDistinct": lambda a: f"array_distinct({a[0]})",
            "arraySort": lambda a: f"array_sort({a[0]})",
            "arrayReverse": lambda a: f"reverse({a[0]})",
            "arraySlice": lambda a: f"slice({a[0]}, {a[1]}, {a[2]})",
            "indexOf": lambda a: f"array_position({a[0]}, {a[1]})",
            # conditional aggregates
            "countIf": lambda a: f"count_if({a[0]})",
            "sumIf": lambda a: f"sum(CASE WHEN {a[1]} THEN {a[0]} END)",
            "avgIf": lambda a: f"avg(CASE WHEN {a[1]} THEN {a[0]} END)",
            # null handling / strings
            "ifNull": lambda a: f"coalesce({a[0]}, {a[1]})",
            "assumeNotNull": lambda a: f"({a[0]})",
            "position": lambda a: f"instr({a[0]}, {a[1]})",
            "replaceAll": lambda a: f"replace({a[0]}, {a[1]}, {a[2]})",
            # NB: can't emit Spark's own startswith/endswith — replace_calls
            # is case-insensitive, so the output would re-match forever.
            "startsWith": lambda a: f"(substring({a[0]}, 1, char_length({a[1]})) = {a[1]})",
            "endsWith": lambda a: f"(right({a[0]}, char_length({a[1]})) = {a[1]})",
            "toMinute": lambda a: f"minute({a[0]})",
            "toSecond": lambda a: f"second({a[0]})",
            "toDecimal64": lambda a: f"CAST({a[0]} AS DECIMAL(27,{a[1].strip()}))",
            # r7 parity sweep additions
            "toQuarter": lambda a: f"quarter({a[0]})",
            "toDayOfYear": lambda a: f"dayofyear({a[0]})",
            # CH: Monday=1..Sunday=7 (ISO); Spark dayofweek: Sunday=1
            "toDayOfWeek": lambda a: f"(((dayofweek({a[0]}) + 5) % 7) + 1)",
            "toStartOfHour": lambda a: f"date_trunc('HOUR', {a[0]})",
            # CH mode 0 (Sunday, the default) / mode 1 (Monday ≡ Spark WEEK)
            "toStartOfWeek": _to_start_of_week,
            "leftPad": lambda a: f"lpad({a[0]}, {a[1]}, {a[2] if len(a) > 2 else repr(' ')})",
            "rightPad": lambda a: f"rpad({a[0]}, {a[1]}, {a[2] if len(a) > 2 else repr(' ')})",
            "bitAnd": lambda a: f"({a[0]} & {a[1]})",
            "bitOr": lambda a: f"({a[0]} | {a[1]})",
            "bitXor": lambda a: f"({a[0]} ^ {a[1]})",
            "trimBoth": lambda a: f"trim({a[0]})",
            "match": lambda a: f"({a[0]} RLIKE {a[1]})",
            # literal (non-regex) delimiter: \Q...\E-quote for Spark's regex split
            "splitByString": lambda a: f"split({a[1]}, concat('\\\\Q', {a[0]}, '\\\\E'))",
            "multiSearchAny": lambda a: f"exists({a[1]}, x -> instr({a[0]}, x) > 0)",
            "arrayFlatten": lambda a: f"flatten({a[0]})",
            "arrayUniq": lambda a: f"size(array_distinct({a[0]}))",
            "arrayAvg": lambda a: (
                f"(aggregate({a[0]}, 0D, (acc, x) -> acc + CAST(x AS DOUBLE)) / size({a[0]}))"
            ),
            # [x1, x2-x1, ...]; NB the array expr is referenced inside the
            # lambda — pre-alias expensive arrays before calling (CLAUDE.md
            # inlining rule), as ClickHouse users already must for arrayJoin
            "arrayDifference": lambda a: (
                f"transform({a[0]}, (v, i) -> CASE WHEN i = 0 THEN v - v "
                f"ELSE v - try_element_at({a[0]}, i) END)"
            ),
            # r8 parity sweep #5
            "toYYYYMM": lambda a: f"(year({a[0]}) * 100 + month({a[0]}))",
            "toYYYYMMDD": lambda a: (
                f"(year({a[0]}) * 10000 + month({a[0]}) * 100 + day({a[0]}))"
            ),
            # CH returns whole seconds; Spark unix_timestamp truncates the
            # same way (oracles must FLOOR(epoch(..)) — the CLAUDE.md rule)
            "toUnixTimestamp": lambda a: f"unix_timestamp({a[0]})",
            "toMonday": lambda a: f"to_date(date_trunc('WEEK', {a[0]}))",
            "addDays": lambda a: f"timestampadd(DAY, {a[1]}, {a[0]})",
            "subtractDays": lambda a: f"timestampadd(DAY, -({a[1]}), {a[0]})",
            "addHours": lambda a: f"timestampadd(HOUR, {a[1]}, {a[0]})",
            "subtractHours": lambda a: f"timestampadd(HOUR, -({a[1]}), {a[0]})",
            # CH extractAll returns every non-overlapping match (the whole
            # match — group 0; CH's take-the-subpattern special case is NOT
            # mirrored, documented divergence)
            "extractAll": lambda a: f"regexp_extract_all({a[0]}, {a[1]}, 0)",
            "arrayEnumerate": lambda a: f"sequence(1, size({a[0]}))",
            "uniqExact": lambda a: f"count(DISTINCT {a[0]})",
            "bitShiftLeft": lambda a: f"shiftleft({a[0]}, {a[1]})",
            "bitShiftRight": lambda a: f"shiftright({a[0]}, {a[1]})",
            # r9 parity sweep #6: aggregate -If combinators + grouped bit
            # aggregates + OrZero scalars + bankers rounding
            "minIf": lambda a: f"min(CASE WHEN {a[1]} THEN {a[0]} END)",
            "maxIf": lambda a: f"max(CASE WHEN {a[1]} THEN {a[0]} END)",
            # CASE's implicit ELSE NULL + COUNT DISTINCT's null-skip give
            # exactly CH's "count condition-passing distinct values"
            "uniqExactIf": lambda a: f"count(DISTINCT CASE WHEN {a[1]} THEN {a[0]} END)",
            "groupBitAnd": lambda a: f"bit_and({a[0]})",
            "groupBitOr": lambda a: f"bit_or({a[0]})",
            "groupBitXor": lambda a: f"bit_xor({a[0]})",
            "intDivOrZero": lambda a: (
                f"(CASE WHEN ({a[1]}) = 0 THEN 0 ELSE ({a[0]}) div ({a[1]}) END)"
            ),
            "moduloOrZero": lambda a: (
                f"(CASE WHEN ({a[1]}) = 0 THEN 0 ELSE ({a[0]}) % ({a[1]}) END)"
            ),
            # half-even; oracle twin is DuckDB round_even. Spark bround
            # goes through the double's SHORTEST-STRING repr, so only feed
            # it binary-exact grids (x/2^k) — a "0.15"-style repr tie
            # diverges from DuckDB's exact-binary-value rounding
            "roundBankers": lambda a: (
                f"bround({a[0]}, {a[1]})" if len(a) > 1 else f"bround({a[0]})"
            ),
            # r9 parity sweep #7: datetime formatting/calendar + counting
            "formatDateTime": _format_date_time,
            "countMatches": lambda a: f"regexp_count({a[0]}, {a[1]})",
            # Spark weekofyear IS the ISO week; YEAROFWEEK the ISO year
            "toISOWeek": lambda a: f"weekofyear({a[0]})",
            "toISOYear": lambda a: f"extract(YEAROFWEEK FROM {a[0]})",
            "toRelativeHourNum": lambda a: f"(unix_timestamp({a[0]}) div 3600)",
            "toRelativeDayNum": lambda a: f"(unix_timestamp({a[0]}) div 86400)",
            "concatWithSeparator": lambda a: f"concat_ws({', '.join(a)})",
            # r10 parity sweep #8: bit/calendar/string/base64 scalars +
            # array mutation/scan primitives
            "bitCount": lambda a: f"bit_count({a[0]})",
            "toLastDayOfMonth": lambda a: f"last_day({a[0]})",
            # pmod floors for negative epochs too — `div` truncates toward
            # zero, so pre-1970 timestamps would bucket to the boundary
            # AFTER the value, diverging from CH/DuckDB floor semantics
            "toStartOfFifteenMinutes": lambda a: (
                f"timestamp_seconds(unix_timestamp({a[0]}) "
                f"- pmod(unix_timestamp({a[0]}), 900))"
            ),
            "toStartOfFiveMinutes": lambda a: (
                f"timestamp_seconds(unix_timestamp({a[0]}) "
                f"- pmod(unix_timestamp({a[0]}), 300))"
            ),
            "substringUTF8": lambda a: f"substring({a[0]}, {a[1]}, {a[2]})",
            "reverseUTF8": lambda a: f"reverse({a[0]})",
            "base64Encode": lambda a: f"base64({a[0]})",
            "base64Decode": lambda a: f"CAST(unbase64({a[0]}) AS STRING)",
            # non-overlapping needle count — the greedy left-to-right
            # replace matches CH's non-overlapping semantics exactly; the
            # empty-needle CASE arm returns CH's defined 0 instead of
            # throwing ANSI DIVIDE_BY_ZERO mid-query
            "countSubstrings": lambda a: (
                f"(CASE WHEN length({a[1]}) = 0 THEN 0 "
                f"ELSE (length({a[0]}) - length(replace({a[0]}, {a[1]}, '')))"
                f" div length({a[1]}) END)"
            ),
            "arrayPushBack": lambda a: f"concat({a[0]}, array({a[1]}))",
            "arrayPushFront": lambda a: f"concat(array({a[1]}), {a[0]})",
            "arrayPopBack": lambda a: (
                f"slice({a[0]}, 1, greatest(size({a[0]}) - 1, 0))"
            ),
            "arrayPopFront": lambda a: (
                f"slice({a[0]}, 2, greatest(size({a[0]}) - 1, 0))"
            ),
            # 3-arg form only (arr, size, extender): CH's 2-arg default
            # extender is type-dependent (0/''/NULL) — refuse rather than
            # guess (the %M convention)
            "arrayResize": lambda a: (
                f"CASE WHEN size({a[0]}) >= ({a[1]}) THEN slice({a[0]}, 1, {a[1]}) "
                f"ELSE concat({a[0]}, array_repeat({a[2]}, ({a[1]}) - size({a[0]}))) END"
                if len(a) == 3
                else (_ for _ in ()).throw(
                    ValueError(
                        "arrayResize: only the 3-arg (arr, size, extender) form "
                        "is translated — CH's 2-arg default extender is "
                        "type-dependent"
                    )
                )
            ),
            # running sum, BIGINT accumulate; NB the array expr is
            # referenced inside the lambda (the arrayDifference caveat:
            # pre-alias expensive arrays before calling)
            "arrayCumSum": lambda a: (
                f"aggregate({a[0]}, CAST(array() AS ARRAY<BIGINT>), "
                f"(acc, x) -> array_append(acc, "
                f"coalesce(try_element_at(acc, -1), 0L) + x))"
            ),
            # drop CONSECUTIVE duplicates: head element + the zip of
            # arr[2..n] against arr[1..n-1] filtered on null-safe
            # inequality with the predecessor. Every reference to the
            # array argument is ROW-level (three slices), never inside a
            # per-element lambda — a computed argument costs O(n) per
            # row, not the O(n²) expression-inlining trap the previous
            # filter/try_element_at shape hit
            "arrayCompact": lambda a: (
                f"concat(slice({a[0]}, 1, least(size({a[0]}), 1)), "
                f"transform(filter(zip_with("
                f"slice({a[0]}, 2, greatest(size({a[0]}) - 1, 0)), "
                f"slice({a[0]}, 1, greatest(size({a[0]}) - 1, 0)), "
                f"(x, p) -> named_struct('v', x, 'prev', p)), "
                f"s -> NOT (s.v <=> s.prev)), s -> s.v))"
            ),
            # r11 parity sweep #9: trim/substring/search scalars, the
            # remaining calendar add/trunc family, bit tests, null
            # predicates, multi-needle search, set-array ops
            "trimLeft": lambda a: f"ltrim({a[0]})",
            "trimRight": lambda a: f"rtrim({a[0]})",
            "substringIndex": lambda a: f"substring_index({a[0]}, {a[1]}, {a[2]})",
            # CH position* take (haystack, needle); Spark locate is
            # (substr, str) — args swap
            "positionCaseInsensitive": lambda a: (
                f"locate(lower({a[1]}), lower({a[0]}))"
            ),
            # NB CH replaceRegexpAll uses RE2 \\1 backrefs; Spark/Java use
            # $1 — literal replacements translate exactly, backrefs do not
            # (the arrayDifference-style caveat)
            "replaceRegexpAll": lambda a: f"regexp_replace({a[0]}, {a[1]}, {a[2]})",
            "dateTrunc": lambda a: f"date_trunc({a[0]}, {a[1]})",
            # CH timeSlot = 30-minute floor; pmod floors pre-1970 too (the
            # toStartOfFifteenMinutes rule)
            "timeSlot": lambda a: (
                f"timestamp_seconds(unix_timestamp({a[0]}) "
                f"- pmod(unix_timestamp({a[0]}), 1800))"
            ),
            "toStartOfQuarter": lambda a: f"trunc({a[0]}, 'quarter')",
            "toStartOfMinute": lambda a: f"date_trunc('MINUTE', {a[0]})",
            "addMonths": lambda a: f"timestampadd(MONTH, {a[1]}, {a[0]})",
            "addYears": lambda a: f"timestampadd(YEAR, {a[1]}, {a[0]})",
            "addMinutes": lambda a: f"timestampadd(MINUTE, {a[1]}, {a[0]})",
            "addSeconds": lambda a: f"timestampadd(SECOND, {a[1]}, {a[0]})",
            "subtractMonths": lambda a: f"timestampadd(MONTH, -({a[1]}), {a[0]})",
            "bitTest": lambda a: f"(shiftright({a[0]}, {a[1]}) & 1)",
            "bitNot": lambda a: f"~({a[0]})",
            "isNull": lambda a: f"({a[0]} IS NULL)",
            "isNotNull": lambda a: f"({a[0]} IS NOT NULL)",
            # needles arg must be a SQL array expression (array('a','b'));
            # CH bracket literals are not rewritten
            "multiSearchAllPositions": lambda a: (
                f"transform({a[1]}, __n -> locate(__n, {a[0]}))"
            ),
            # CH documents the result order as unspecified — canonicalize
            # with a sort on both sides
            "arrayIntersect": lambda a: (
                f"array_sort(array_intersect({a[0]}, {a[1]}))"
            ),
            "splitByWhitespace": lambda a: (
                f"filter(split({a[0]}, '\\\\s+'), x -> x != '')"
            ),
            # r11 parity sweep #10: functional arithmetic, power-of-two +
            # bucketing rounds, float-classification predicates, array
            # first/last accessors, range, the remaining add/subtract
            # calendar family
            "plus": lambda a: f"({a[0]} + {a[1]})",
            "minus": lambda a: f"({a[0]} - {a[1]})",
            "multiply": lambda a: f"({a[0]} * {a[1]})",
            # CH divide is ALWAYS float division; a zero divisor yields
            # ±inf/nan in CH but throws under ANSI — non-zero paths
            # translate exactly (documented divergence, the
            # replaceRegexpAll-backref caveat class)
            "divide": lambda a: f"(CAST({a[0]} AS DOUBLE) / {a[1]})",
            "negate": lambda a: f"(-({a[0]}))",
            "intExp2": lambda a: (
                f"shiftleft(CAST(1 AS BIGINT), CAST({a[0]} AS INT))"
            ),
            "exp2": lambda a: f"power(CAST(2 AS DOUBLE), {a[0]})",
            "exp10": lambda a: f"power(CAST(10 AS DOUBLE), {a[0]})",
            # x < 1 -> 0, else 2^(bit_length(x)-1): the deterministic
            # bin()-length trick (no float log2); x splices twice —
            # literal/column args only (the arrayCompact caveat)
            "roundToExp2": lambda a: (
                f"(CASE WHEN {a[0]} < 1 THEN CAST(0 AS BIGINT) ELSE "
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST(length(bin(CAST({a[0]} AS BIGINT))) - 1 AS INT)) END)"
            ),
            # largest array element <= x, else the array minimum (CH's
            # below-all rule); arr splices twice — literal arrays only
            "roundDown": lambda a: (
                f"coalesce(array_max(filter({a[1]}, __rd -> __rd <= {a[0]})), "
                f"array_min({a[1]}))"
            ),
            "roundAge": lambda a: (
                f"(CASE WHEN {a[0]} < 1 THEN 0 WHEN {a[0]} <= 17 THEN 17 "
                f"WHEN {a[0]} <= 24 THEN 18 WHEN {a[0]} <= 34 THEN 25 "
                f"WHEN {a[0]} <= 44 THEN 35 WHEN {a[0]} <= 54 THEN 45 "
                f"ELSE 55 END)"
            ),
            "roundDuration": lambda a: (
                "(CASE WHEN " + a[0] + " < 1 THEN 0 "
                + " ".join(
                    f"WHEN {a[0]} >= {t} THEN {t}"
                    for t in (36000, 18000, 7200, 3600, 1800, 1200,
                              600, 300, 240, 180, 120, 60, 30, 10)
                )
                + " ELSE 1 END)"
            ),
            # NaN tests WITHOUT isnan(): replace_calls is case-insensitive,
            # so a rename emitting its own (case-folded) name re-matches
            # forever; Spark's documented NaN semantics make NaN = NaN
            # TRUE, so equality against the NaN literal is exact
            "isNaN": lambda a: f"({a[0]} = double('NaN'))",
            "isFinite": lambda a: (
                f"({a[0]} != double('NaN') AND {a[0]} != double('Infinity') "
                f"AND {a[0]} != double('-Infinity'))"
            ),
            "isInfinite": lambda a: (
                f"({a[0]} = double('Infinity') OR {a[0]} = double('-Infinity'))"
            ),
            # x splices four times — literal/column args only
            "ifNotFinite": lambda a: (
                f"(CASE WHEN {a[0]} = double('NaN') OR {a[0]} = double('Infinity') "
                f"OR {a[0]} = double('-Infinity') THEN {a[1]} ELSE {a[0]} END)"
            ),
            # ANSI element_at throws out-of-range; try_element_at gives
            # CH's no-match NULL (1 = first, -1 = last)
            "arrayFirst": lambda a: (
                f"try_element_at(filter({a[1]}, {a[0]}), 1)"
            ),
            "arrayLast": lambda a: (
                f"try_element_at(filter({a[1]}, {a[0]}), -1)"
            ),
            # equal elements share a pure predicate's result, so the
            # position of the first match's VALUE is the first match's
            # index; no match -> NULL -> 0. Null-free arrays assumed.
            "arrayFirstIndex": lambda a: (
                f"coalesce(array_position({a[1]}, "
                f"try_element_at(filter({a[1]}, {a[0]}), 1)), 0)"
            ),
            "toStartOfTenMinutes": lambda a: (
                f"timestamp_seconds(unix_timestamp({a[0]}) "
                f"- pmod(unix_timestamp({a[0]}), 600))"
            ),
            "addWeeks": lambda a: f"timestampadd(WEEK, {a[1]}, {a[0]})",
            "subtractWeeks": lambda a: f"timestampadd(WEEK, -({a[1]}), {a[0]})",
            "addQuarters": lambda a: f"timestampadd(QUARTER, {a[1]}, {a[0]})",
            "subtractQuarters": lambda a: (
                f"timestampadd(QUARTER, -({a[1]}), {a[0]})"
            ),
            "subtractMinutes": lambda a: (
                f"timestampadd(MINUTE, -({a[1]}), {a[0]})"
            ),
            "subtractSeconds": lambda a: (
                f"timestampadd(SECOND, -({a[1]}), {a[0]})"
            ),
            "subtractYears": lambda a: f"timestampadd(YEAR, -({a[1]}), {a[0]})",
        }

        def multi_if(a: list[str]) -> str:
            # multiIf(c1, v1, c2, v2, ..., else) → CASE chain
            parts = []
            for i in range(0, len(a) - 1, 2):
                parts.append(f"WHEN {a[i]} THEN {a[i + 1]}")
            return "(CASE " + " ".join(parts) + f" ELSE {a[-1]} END)"

        sql = replace_calls(sql, "multiIf", multi_if)

        def json_extract(cast: str | None):
            def build(a: list[str]) -> str:
                obj, key = a[0], a[1].strip()
                if key.startswith("'") and key.endswith("'"):
                    path = f"'$.{key[1:-1]}'"
                else:
                    path = f"concat('$.', {key})"
                e = f"get_json_object({obj}, {path})"
                return f"CAST({e} AS {cast})" if cast else e

            return build

        sql = replace_calls(sql, "JSONExtractString", json_extract(None))
        sql = replace_calls(sql, "JSONExtractInt", json_extract("BIGINT"))
        sql = replace_calls(sql, "JSONExtractFloat", json_extract("DOUBLE"))
        sql = replace_calls(
            sql,
            "JSONExtractArrayRaw",
            lambda a: f"from_json(get_json_object({a[0]}, '$.{a[1].strip().strip(chr(39))}'), 'array<string>')",
        )
        for name, build in simple.items():
            sql = replace_calls(sql, name, build)

        # length(): ClickHouse is polymorphic (string chars / array size);
        # Spark needs size() for arrays — disambiguate on known array columns
        # and array-producing expressions. Strings become char_length (same
        # semantics as length, and not re-matched by this pass).
        array_fn_prefixes = (
            "split(", "transform(", "collect_list(", "array(", "filter(",
            "from_json(", "sequence(", "slice(", "array_distinct(",
        )

        def ch_length(a: list[str]) -> str:
            arg = a[0].strip()
            base = arg.split(".")[-1].strip("`")
            if (
                base in self.array_columns
                or _ch_array_literal_to_floats(arg) is not None
                or arg.lower().startswith(array_fn_prefixes)
            ):
                return f"size({arg})"
            return f"char_length({arg})"

        sql = replace_calls(sql, "length", ch_length)
        # zero-arg forms
        sql = re.sub(r"(?<![\w.])today\(\s*\)", "current_date()", sql, flags=re.IGNORECASE)
        sql = re.sub(r"(?<![\w.])now\(\s*\)", "current_timestamp()", sql, flags=re.IGNORECASE)
        sql = re.sub(r"(?<![\w.])count\(\s*\)", "count(*)", sql, flags=re.IGNORECASE)
        return sql

    # -- step 6: SELECT-list rewrite (P2) ----------------------------------------
    def rewrite_select_list(self, sql: str, must_have_columns: Sequence[str]) -> str:
        """Replace the projected columns with ``must_have_columns`` (+ the
        ``dist`` alias if present) — the reference's
        VectorSQLRetrieveOutputParser.parse (vector_sql_output_parser.py:16-23)."""
        m = re.search(r"\bSELECT\s+(DISTINCT\s+)?", sql, re.IGNORECASE)
        frm = re.search(r"\bFROM\b", sql, re.IGNORECASE)
        if not m or not frm:
            return sql
        body = sql[m.end() : frm.start()]
        cols = list(dict.fromkeys(must_have_columns))
        if re.search(r"\bAS\s+dist\b", body, re.IGNORECASE) or re.search(r"\bdist\b", body):
            # keep any distance alias expression
            for part in _split_args(body):
                if re.search(r"\bAS\s+dist\s*$", part.strip(), re.IGNORECASE):
                    cols.append(part.strip())
                    break
            else:
                cols.append("dist")
        return sql[: m.end()] + ", ".join(cols) + " " + sql[frm.start() :]

    # -- main ----------------------------------------------------------------------
    def translate(self, sql: str, must_have_columns: Sequence[str] | None = None) -> str:
        """ClickHouse/MyScale Vector SQL → executable Spark SQL."""
        sql = sql.strip().rstrip(";")
        for ch_name, spark_name in self.table_map.items():
            sql = re.sub(rf"(?<![\w.]){re.escape(ch_name)}(?![\w.])", spark_name, sql)
        sql = self._splice_embeddings(sql)
        sql = self._rewrite_distance(sql)
        sql = self._hoist_order_alias(sql)
        sql = re.sub(r"\bPREWHERE\b", "WHERE", sql, flags=re.IGNORECASE)
        sql = self._rename_functions(sql)
        if must_have_columns:
            sql = self.rewrite_select_list(sql, must_have_columns)
        return sql

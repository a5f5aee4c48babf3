"""Scalar + aggregate function tables, both translation directions.

The scalar core is the reference's 26 binary operators
(``operator_to_name`` producer.rs:288-318 ⇄ ``name_to_op`` consumer.rs:37-71)
— we use the Substrait-spec spelling ``subtract`` on BOTH sides rather than
replicating the reference's roundtrip-breaking ``"substract"`` typo
(producer.rs:297 vs consumer.rs:46; SURVEY.md §2.3).

Extensions beyond the reference (needed for real Catalyst optimized plans,
which inject null guards / coercions the reference never sees):
``not``, ``is_null``, ``is_not_null`` (unary), n-ary ``str_concat``,
``coalesce``, ``abs``, ``negate``.

Aggregates: the reference hardcodes no list — any name DataFusion 15's
``AggregateFunction::from_str`` resolves is accepted (consumer.rs:401-407).
We implement that effective set per the SURVEY.md §2.4 table.
"""

from __future__ import annotations

import string

from datafusion_substrait_spark.plans.proto import SubstraitError

# ---------------------------------------------------------------------------
# produce direction: Catalyst expression class simpleName → substrait name
# (≡ operator_to_name, producer.rs:288-318)
# ---------------------------------------------------------------------------

CATALYST_BINARY_TO_NAME: dict[str, str] = {
    "EqualTo": "equal",
    "LessThan": "lt",
    "LessThanOrEqual": "lte",
    "GreaterThan": "gt",
    "GreaterThanOrEqual": "gte",
    "Add": "add",
    "Subtract": "subtract",
    "Multiply": "multiply",
    "Divide": "divide",
    "IntegralDivide": "div",  # integer division, trunc-toward-zero semantics
    "Remainder": "mod",
    # NO Pmod entry: pmod(a, b) != a % b for negative operands, so mapping
    # it to "mod" would silently change results — it falls to the
    # catch-all unsupported-expression error instead
    "And": "and",
    "Or": "or",
    "Like": "like",
    "RLike": "regex_match",
    # Catalyst optimizes LIKE 'A%' / '%A' / '%A%' into these
    "StartsWith": "starts_with",
    "EndsWith": "ends_with",
    "Contains": "contains",
    "EqualNullSafe": "is_not_distinct_from",
    "BitwiseAnd": "bitwise_and",
    "BitwiseOr": "bitwise_or",
    "BitwiseXor": "bitwise_xor",
    "ShiftLeft": "bitwise_shift_left",
    "ShiftRight": "bitwise_shift_right",
    "DateAdd": "date_add",
    "DateSub": "date_sub",
    "DateDiff": "date_diff",  # (end, start) argument order on both sides
    "Pow": "power",
    "Atan2": "atan2",
    # r11 produce-sweep additions
    "Hypot": "hypot",
    "BRound": "bround",            # half-even rounding (scale rides as arg)
    # (sec, format); like unix_timestamp, the timeZoneId node field rides
    # the SESSION zone (UTC-pinned), not the plan
    "FromUnixTime": "from_unixtime",
    "ToUnixTimestamp": "to_unix_timestamp",  # same session-zone convention
    "FindInSet": "find_in_set",
    # date/time + string/hash battery (r9, part 2)
    "AddMonths": "add_months",
    "TruncDate": "trunc_date",      # (date, format-literal)
    # (format, timestamp) — Catalyst's TruncTimestamp arg order matches
    # SQL date_trunc(fmt, ts); like UnixTimestamp, the timeZoneId node
    # field rides the SESSION zone (UTC-pinned by register_testdata),
    # not the plan (r11, surfaced by the differential date tier)
    "TruncTimestamp": "date_trunc",
    "StringRepeat": "repeat",
    "StringInstr": "instr",         # (str, substr) → 1-based position
    "Levenshtein": "levenshtein",   # 2-arg form (threshold form is 3-child
                                    # and fails arity cleanly)
    "Sha2": "sha2",                 # (binary, numBits-literal)
    # 0-based array indexing. Consumed as F.get (NULL on out-of-bounds),
    # so only the LENIENT form (failOnError=false, i.e. get()) produces
    # this name; the strict ANSI arr[i] form is rewritten by the producer
    # to strict element_at(arr, i+1) when the ordinal is a non-negative
    # literal (value-identical incl. throw-on-OOB) and fenced otherwise
    # — see producer._binary (r10, ADVICE).
    "GetArrayItem": "array_get",
    # m[k]: NULL on missing key in BOTH ANSI modes (SPARK-40066), which
    # try_element_at reproduces exactly on consume
    "GetMapValue": "map_get",
    "ArrayContains": "array_contains",
    "ArrayPosition": "array_position",
    "ArrayRemove": "array_remove",
    "ArraysOverlap": "arrays_overlap",
    "ArrayUnion": "array_union",
    "ArrayIntersect": "array_intersect",
    "ArrayExcept": "array_except",
    "ArrayRepeat": "array_repeat",
    # raw-crawl JSON extraction + timestamp formatting (2-child forms;
    # DateFormatClass' optional timezone rides session state, not a child)
    "GetJsonObject": "get_json_object",
    "DateFormatClass": "date_format",
    # r9 part 3 (found by the expression-gap sweep)
    # Substrait functions_string.yaml string_split: LITERAL-delimiter
    # split (split_part's array source). Produce fences a non-literal /
    # empty delimiter; consume rebuilds via regex split over the
    # \Q..\E-quoted delimiter (r11)
    "StringSplitSQL": "string_split",
    "ElementAt": "element_at",    # 1-based arrays / map keys; the
                                  # split_part default-value form encodes
                                  # as a guarded CASE (producer, r11)
    "FormatNumber": "format_number",
    # epoch seconds; like timestamp literals, tz-sensitive parsing rides
    # the SESSION zone (UTC-pinned by register_testdata), not the plan
    "UnixTimestamp": "unix_timestamp",
}

# Not(inner-class) → negated substrait name (producer's NotEq/NotLike/… forms)
CATALYST_NOT_TO_NAME: dict[str, str] = {
    "EqualTo": "not_equal",
    "Like": "not_like",
    "RLike": "regex_not_match",
    "EqualNullSafe": "is_distinct_from",
}

CATALYST_UNARY_TO_NAME: dict[str, str] = {
    "Not": "not",
    "IsNull": "is_null",
    "IsNotNull": "is_not_null",
    "UnaryMinus": "negate",
    "Abs": "abs",
    "Floor": "floor",
    "Ceil": "ceil",
    "Sqrt": "sqrt",
    "Lower": "lower",
    "Upper": "upper",
    "Length": "char_length",
    "Year": "year",
    "Month": "month",
    "DayOfMonth": "day",
    "Md5": "md5",
    # trimStr is an Option-child: these classes are unary in the common
    # no-trim-string form; the 2-child form fails arity and errors cleanly
    "StringTrim": "trim",
    "StringTrimLeft": "ltrim",
    "StringTrimRight": "rtrim",
    "InitCap": "initcap",
    "BitwiseNot": "bitwise_not",
    # size(array|map); ANSI-era semantics (size(NULL) = NULL) on both sides
    "Size": "size",
    # math battery (r9): substrait-spec spellings; consumed by the
    # same-named Spark builders, so values are bit-identical both ways
    "Exp": "exp",
    "Log": "ln",
    # r11 produce-sweep additions (math unaries every SQL dialect has)
    "Cbrt": "cbrt",
    "Expm1": "expm1",
    "Log1p": "log1p",
    "Rint": "rint",
    # r11 sweep batch 2: epoch/date conversions (pure integer math — no
    # session-zone sensitivity except where noted on the binary table)
    "SecondsToTimestamp": "timestamp_seconds",
    "MicrosToTimestamp": "timestamp_micros",
    "UnixDate": "unix_date",
    "DateFromUnixDate": "date_from_unix_date",
    "UnixMicros": "unix_micros",
    "MonthName": "monthname",
    "DayName": "dayname",
    "Log10": "log10",
    "Log2": "log2",
    "Sin": "sin",
    "Cos": "cos",
    "Tan": "tan",
    "Asin": "asin",
    "Acos": "acos",
    "Atan": "atan",
    "Sinh": "sinh",
    "Cosh": "cosh",
    "Tanh": "tanh",
    "Signum": "sign",
    "ToDegrees": "degrees",
    "ToRadians": "radians",
    # date/time parts
    "Hour": "hour",
    "Minute": "minute",
    "Second": "second",
    "DayOfWeek": "day_of_week",
    "DayOfYear": "day_of_year",
    "Quarter": "quarter",
    "WeekOfYear": "week_of_year",
    "LastDay": "last_day",
    # string / numeric encodings + hashes
    "Reverse": "reverse",           # strings AND arrays, both sides
    "Ascii": "ascii",
    "Chr": "chr",
    "Factorial": "factorial",
    "Hex": "hex",
    "Unhex": "unhex",
    "Bin": "bin",
    "Crc32": "crc32",
    "Sha1": "sha1",
    # r9 part 3
    "OctetLength": "octet_length",
    # collection battery (r9 part 4)
    "MapKeys": "map_keys",
    "MapValues": "map_values",
    "Flatten": "flatten",
    # NO ArrayCompact: the optimizer rewrites it to ArrayFilter with an
    # isnotnull LAMBDA pre-produce — which now rides the lambda encoding
    # (CATALYST_HOF_TO_NAME below), un-fencing array_compact (r10)
    "BitLength": "bit_length",
    "ArrayDistinct": "array_distinct",
    "ArrayMax": "array_max",
    "ArrayMin": "array_min",
    "BitwiseCount": "bit_count",
    "IsNaN": "is_nan",
    "SoundEx": "soundex",
}

CATALYST_NARY_TO_NAME: dict[str, str] = {
    "Concat": "str_concat",
    "Coalesce": "coalesce",
    "Substring": "substring",
    "Round": "round",
    "Greatest": "greatest",
    "Least": "least",
    "ConcatWs": "concat_ws",  # separator literal special-cased on consume
    "StringReplace": "replace",
    "StringSplit": "regexp_split",  # (str, pattern, limit) — Spark's split()
    "SortArray": "sort_array",      # (array, asc) — asc rides as a literal
    "ArrayJoin": "array_join",      # (array, delimiter)
    # complex-type constructors (r8): Catalyst's children are already the
    # interleaved (name/key literal, value, …) the Spark builders take, so
    # user STRUCT FIELD NAMES survive the roundtrip as literal arguments —
    # the core Expression.Nested.Struct is positional and would drop them
    "CreateNamedStruct": "named_struct",
    "CreateMap": "map",
    # r11 produce-sweep additions (variadic / 3-child forms)
    "FormatString": "format_string",
    "StringToMap": "str_to_map",
    "RegExpInStr": "regexp_instr",
    "Mask": "mask",  # (str, upper, lower, digit, other) — defaults ride
                     # as the literal children Catalyst materializes
    # r9 part 2: 3-child string/date forms
    "StringLPad": "lpad",
    "StringRPad": "rpad",
    "StringTranslate": "translate",
    "SubstringIndex": "substring_index",
    "Sequence": "sequence",            # (start, stop[, step])
    "Conv": "conv",                    # (num-string, from-base, to-base)
    "MonthsBetween": "months_between",  # (d1, d2, roundOff-literal)
    # r9 part 3: regex family (Java regex both directions — the produce
    # side is the same engine, so patterns need no dialect mapping),
    # locate/slice/overlay/width_bucket positional forms
    "RegExpExtract": "regexp_extract",
    "RegExpExtractAll": "regexp_extract_all",
    "RegExpReplace": "regexp_replace",   # (str, pattern, rep, pos)
    "StringLocate": "locate",            # (substr, str, start)
    "Slice": "slice",                    # (array, 1-based start, length)
    "Overlay": "overlay",                # (str, replace, pos, len)
    "WidthBucket": "width_bucket",
}

# ---------------------------------------------------------------------------
# higher-order functions (r10): Catalyst class → extension scalar name.
# A Catalyst LambdaFunction child rides as the extension call
# ``lambda(n_params: i32, body)``; a NamedLambdaVariable in the body rides
# as ``lambda_var(depth: i32, index: i32)`` — de-Bruijn-style (depth 0 =
# innermost enclosing lambda), so NESTED lambdas roundtrip without carrying
# Catalyst exprIds across the plan boundary. Both helper names are plain
# extension scalar functions, so the binary wire codec handles them for
# free. The reference has no lambda surface (catch-all, consumer.rs:69);
# this closes the r9 verdict's top capability gap.
# ---------------------------------------------------------------------------

CATALYST_HOF_TO_NAME: dict[str, str] = {
    "ArrayTransform": "transform",
    "ArrayFilter": "filter",           # also array_compact's optimized form
    "ArrayExists": "exists",           # followThreeValuedLogic fence (producer)
    "ArrayForAll": "forall",
    "ArrayAggregate": "aggregate",     # SQL aggregate() AND reduce()
    "ZipWith": "zip_with",
    "MapFilter": "map_filter",
    "TransformKeys": "transform_keys",
    "TransformValues": "transform_values",
    "MapZipWith": "map_zip_with",
    "ArraySort": "array_sort",         # comparator lambda (default or custom)
}

# lambda argument shape per HOF: {arg position: allowed n_params}. The
# consumer validates against this BEFORE building, so a corrupted plan
# (lambda at a data position, or an arity the builder would only reject
# later as a JVM AnalysisException) fails as a clean SubstraitError.
HOF_LAMBDA_SHAPE: dict[str, dict[int, set[int]]] = {
    "transform": {1: {1, 2}},        # (x) or (x, i)
    "filter": {1: {1, 2}},
    "exists": {1: {1}},
    "forall": {1: {1}},
    "aggregate": {2: {2}, 3: {1}},   # merge(acc, x), finish(acc)
    "zip_with": {2: {2}},
    "map_filter": {1: {2}},          # (k, v)
    "transform_keys": {1: {2}},
    "transform_values": {1: {2}},
    "map_zip_with": {2: {3}},        # (k, v1, v2)
    "array_sort": {1: {2}},          # comparator(l, r)
}

# consume: argument counts each HOF accepts (its Spark SQL function takes
# the same name), checked before rendering so a wrong call shape fails as a
# SubstraitError rather than a Spark analysis error
HOF_ARITY: dict[str, set[int]] = {
    "transform": {2},
    "filter": {2},
    "exists": {2},
    "forall": {2},
    "aggregate": {3, 4},
    "zip_with": {3},
    "map_filter": {2},
    "transform_keys": {2},
    "transform_values": {2},
    "map_zip_with": {3},
    "array_sort": {1, 2},
}

# ---------------------------------------------------------------------------
# consume direction: substrait name → Spark SQL template (≡ consumer.rs:37-71)
#
# ``{0}``, ``{1}``… are the rendered arguments in order and fix the arity;
# ``{*}`` takes any number (variadic). Operators are parenthesized so
# templates nest without precedence surprises, with spaces around them so a
# negative literal never forms a ``--`` comment.
# ---------------------------------------------------------------------------

# ``a div b`` with trunc-toward-zero semantics, exact over full-range int64:
# subtracting the truncated remainder first (`%` keeps the dividend's sign,
# exact on decimals) makes the decimal quotient mathematically integral, so
# the division's scale-6 HALF_UP rounding can never move it. (A floor/ceil of
# the ROUNDED raw quotient is off by one whenever a/b lands within 5e-7 of an
# integer, e.g. 1999999 div 2000000 → 1 instead of 0.) Double division is no
# alternative — it loses low bits past 2^53.
_INTEGRAL_DIVIDE = (
    "CAST((CAST({0} AS DECIMAL(38,0)) - CAST({0} AS DECIMAL(38,0)) % "
    "CAST({1} AS DECIMAL(38,0))) / CAST({1} AS DECIMAL(38,0)) AS BIGINT)")


def _calls(arity: int, *names: str) -> dict[str, str]:
    """Templates for functions whose Spark SQL name is the substrait name."""
    params = ", ".join(f"{{{i}}}" for i in range(arity))
    return {n: f"{n}({params})" for n in names}


SCALAR_SQL: dict[str, str] = {
    "equal": "({0} = {1})",
    "not_equal": "({0} != {1})",
    "lt": "({0} < {1})",
    "lte": "({0} <= {1})",
    "gt": "({0} > {1})",
    "gte": "({0} >= {1})",
    "add": "({0} + {1})",
    "subtract": "({0} - {1})",
    # Foreign-producer compatibility alias: the reference's PRODUCER emits
    # the typo "substract" (producer.rs:297) that even its own consumer
    # rejects (name_to_op only knows "subtract", consumer.rs:46). We PRODUCE
    # the spec spelling, but a plan produced by the reference must consume.
    "substract": "({0} - {1})",
    "multiply": "({0} * {1})",
    "divide": "({0} / {1})",
    "mod": "({0} % {1})",
    "div": _INTEGRAL_DIVIDE,
    "and": "({0} AND {1})",
    "or": "({0} OR {1})",
    "not": "(NOT {0})",
    "not_like": "(NOT like({0}, {1}))",
    "starts_with": "startswith({0}, {1})",
    "ends_with": "endswith({0}, {1})",
    "regex_match": "rlike({0}, {1})",
    "regex_imatch": "rlike({0}, concat('(?i)', {1}))",
    "regex_not_match": "(NOT rlike({0}, {1}))",
    "regex_not_imatch": "(NOT rlike({0}, concat('(?i)', {1})))",
    "is_distinct_from": "(NOT ({0} <=> {1}))",
    "is_not_distinct_from": "({0} <=> {1})",
    "is_null": "({0} IS NULL)",
    "is_not_null": "({0} IS NOT NULL)",
    "negate": "(- {0})",
    "bitwise_and": "({0} & {1})",
    "bitwise_or": "({0} | {1})",
    "bitwise_xor": "({0} ^ {1})",
    "bitwise_not": "(~ {0})",
    "bitwise_shift_left": "shiftleft({0}, {1})",
    "bitwise_shift_right": "shiftright({0}, {1})",
    "str_concat": "concat({*})",
    "char_length": "length({0})",
    "day": "dayofmonth({0})",
    "date_diff": "datediff({0}, {1})",
    "array_get": "get({0}, {1})",  # 0-based, NULL on OOB
    "map_get": "try_element_at({0}, {1})",  # NULL on missing key
    "sign": "signum({0})",
    "day_of_week": "dayofweek({0})",
    "day_of_year": "dayofyear({0})",
    "week_of_year": "weekofyear({0})",
    "trunc_date": "trunc({0}, {1})",
    "is_nan": "isnan({0})",
    "murmur3_hash": "hash({*})",
    "regexp_split": "split({0}, {1}, {2})",
    # round's scale argument is special-cased in the consumer; this entry
    # covers the scale-0 unary form
    "round": "round({0})",
    **_calls(1, "abs", "floor", "ceil", "sqrt", "lower", "upper", "year",
             "month", "md5", "trim", "ltrim", "rtrim", "initcap", "size",
             "exp", "ln", "log10", "log2", "sin", "cos", "tan", "asin",
             "acos", "atan", "sinh", "cosh", "tanh", "degrees", "radians",
             "hour", "minute", "second", "quarter", "last_day", "cbrt",
             "expm1", "log1p", "rint", "timestamp_seconds",
             "timestamp_micros", "unix_date", "date_from_unix_date",
             "unix_micros", "monthname", "dayname", "octet_length",
             "bit_length", "array_distinct", "array_max", "array_min",
             "bit_count", "soundex", "map_keys", "map_values", "flatten",
             "reverse", "ascii", "chr", "factorial", "hex", "unhex", "bin",
             "crc32", "sha1"),
    **_calls(2, "like", "contains", "date_add", "date_sub",
             "array_contains", "power", "atan2", "add_months", "date_trunc",
             "hypot", "bround", "from_unixtime", "to_unix_timestamp",
             "find_in_set", "get_json_object", "date_format", "element_at",
             "try_element_at", "format_number", "unix_timestamp", "try_add",
             "try_subtract", "try_multiply", "try_divide", "try_mod",
             "array_position", "array_remove", "arrays_overlap",
             "array_union", "array_intersect", "array_except",
             "array_repeat", "repeat", "instr", "levenshtein", "sha2",
             "sort_array", "array_join"),
    **_calls(3, "substring", "regexp_extract", "regexp_extract_all",
             "locate", "slice", "lpad", "rpad", "translate",
             "substring_index", "conv", "months_between", "replace"),
    **_calls(4, "regexp_replace", "overlay", "width_bucket"),
    # variadic; complex-type constructors take interleaved (name/key, value, …)
    **{n: f"{n}({{*}})" for n in (
        "coalesce", "greatest", "least", "named_struct", "map", "xxhash64",
        "sequence", "format_string", "str_to_map", "regexp_instr", "mask")},
}


# ---------------------------------------------------------------------------
# aggregates (SURVEY.md §2.4: DataFusion 15 from_str set)
# ---------------------------------------------------------------------------

# produce: Catalyst AggregateFunction.prettyName() → substrait name
CATALYST_AGG_TO_NAME: dict[str, str] = {
    "count": "count",
    "sum": "sum",
    "avg": "avg",
    "mean": "avg",
    "min": "min",
    "max": "max",
    "median": "median",
    "approx_count_distinct": "approx_distinct",
    "collect_list": "array_agg",
    "var_samp": "var",
    "var_pop": "var_pop",
    "stddev_samp": "stddev",
    "stddev": "stddev_samp",
    "stddev_pop": "stddev_pop",
    "covar_samp": "covar",
    "covar_pop": "covar_pop",
    "corr": "corr",
    "percentile_approx": "approx_percentile_cont",
    "percentile": "percentile",  # Spark desugars median() to percentile(c, 0.5)
    "first": "first_value",
    "last": "last_value",
    # the SQL window spellings: First/Last prettyName is "first_value"/
    # "last_value" unless the FUNC_ALIAS tag says "first"/"last" (how the
    # aggregate-call form presents) — both arrive here
    "first_value": "first_value",
    "last_value": "last_value",
}

# consume: substrait name → Spark SQL aggregate template (same conventions
# as SCALAR_SQL)
AGG_SQL: dict[str, str] = {
    "mean": "avg({0})",
    "approx_distinct": "approx_count_distinct({0})",
    "array_agg": "collect_list({0})",
    "var": "var_samp({0})",
    "variance": "var_samp({0})",
    "stddev": "stddev_samp({0})",
    "covar": "covar_samp({0}, {1})",
    "covariance": "covar_samp({0}, {1})",
    "approx_percentile_cont": "percentile_approx({*})",
    "percentile": "percentile({*})",
    "approx_median": "percentile_approx({0}, 0.5D)",
    "first_value": "first({0}, false)",
    "last_value": "last({0}, false)",
    **_calls(1, "count", "sum", "avg", "min", "max", "median", "var_pop",
             "stddev_samp", "stddev_pop", "grouping"),
    **_calls(2, "covar_pop", "corr"),
}

# DISTINCT invocations Spark can express; min/max DISTINCT is a no-op
AGG_DISTINCT_SQL: dict[str, str] = {
    "count": "count(DISTINCT {*})",
    "min": "min({0})",
    "max": "max({0})",
    **{n: AGG_SQL[n].replace("(", "(DISTINCT ", 1) for n in (
        "sum", "avg", "mean", "median", "approx_distinct", "array_agg", "var",
        "variance", "var_pop", "stddev", "stddev_samp", "stddev_pop")},
}


def arity(template: str) -> int | None:
    """Number of arguments a template takes; None when variadic."""
    if "{*}" in template:
        return None
    return len({f for _, f, _, _ in string.Formatter().parse(template)
                if f is not None})


def fill(template: str, args: list[str]) -> str:
    if "{*}" in template:
        return template.replace("{*}", ", ".join(args))
    return template.format(*args)


def scalar_sql(name: str, args: list[str]) -> str:
    template = SCALAR_SQL.get(name)
    if template is None:
        raise SubstraitError(f"unknown scalar function {name!r} (≡ consumer.rs:69)")
    expected = arity(template)
    if expected is not None and len(args) != expected:
        raise SubstraitError(
            f"scalar function {name!r} expects {expected} args, got {len(args)} "
            "(reference asserts arity 2, consumer.rs:531; we report instead)"
        )
    return fill(template, args)

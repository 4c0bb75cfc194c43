"""Column-expression cast ladders reproducing the reference's per-value
Python cast semantics (reference main.py:113-265, SURVEY §1.2) as pure
Catalyst expressions — no Python in the row path, so whole-stage codegen
applies and the same expressions run unchanged on a 1000-executor cluster.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# reference main.py:242-249 — case-insensitive truthy string set
BOOLEAN_TRUE_STRINGS = ("true", "1", "t", "y", "yes")


# --- Python numeric-literal grammar, reproduced exactly ---------------------
#
# The reference casts with Python ``int(value)`` / ``float(value)``
# (main.py:227-240); Spark's string→long/double cast accepts MORE than
# Python does (it strips every char ≤ U+0020, so int("0\x1f") → 0 where
# Python raises → the reference omits the property). Found by hypothesis
# (tests/test_cast_properties.py, counterexample '0\x1f'). The expressions
# below gate Spark's cast on the exact Python acceptance grammar, derived
# empirically against CPython 3.11 over the full codepoint range:
#
# * whitespace: int()/float() strip exactly these 25 codepoints — NOT the
#   \x1c-\x1f separators that str.strip() also removes;
# * sign: ASCII '+'/'-' only;
# * digits: any Unicode Nd decimal digit (660 codepoints, incl. astral
#   planes — int("٣")==3), normalized to ASCII via a translate table
#   before validation/cast;
# * underscores: allowed between digits only (int("1_0")==10, "1__0"/
#   "_1"/"1_" raise).
_PY_NUM_WS = (
    "\t\n\x0b\x0c\r \x85\xa0"
    "\u1680\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007"
    "\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000"
)
_WS_STRIP_RE = "^[" + _PY_NUM_WS + "]+|[" + _PY_NUM_WS + "]+$"
# digit run with optional single underscores between digits
_D = "[0-9](_?[0-9])*"
_INT_RE = f"^[+-]?{_D}$"
# Python float literal: digits[.digits] | .digits, optional exponent, or
# inf/infinity/nan (case-insensitive). "1." and "1.e3" are valid.
_FLOAT_RE = f"^[+-]?(({_D}(\\.({_D})?)?|\\.{_D})([eE][+-]?{_D})?)$"
_INF_RE = "^[+-]?(?i:inf(inity)?)$"
_NAN_RE = "^[+-]?(?i:nan)$"


def _nd_translate_tables() -> tuple[str, str]:
    """(from, to) tables mapping every Unicode Nd decimal digit to its
    ASCII value digit — computed once, cached; used via F.translate so
    digit normalization stays a single JVM expression (Spark's translate
    is codepoint-correct incl. supplementary planes, verified)."""
    global _ND_TABLES
    if _ND_TABLES is None:
        import unicodedata

        frm, to = [], []
        for c in range(0x110000):
            ch = chr(c)
            if unicodedata.category(ch) == "Nd":
                frm.append(ch)
                to.append(str(unicodedata.digit(ch)))
        _ND_TABLES = ("".join(frm), "".join(to))
    return _ND_TABLES


_ND_TABLES: tuple[str, str] | None = None


def _python_numeric_normalize(col: Column) -> Column:
    """Strip Python-numeric whitespace, normalize Unicode Nd digits to
    ASCII. The result is validated against the grammar regexes; rows that
    fail validation yield NULL (the reference omits on ValueError)."""
    frm, to = _nd_translate_tables()
    return F.translate(F.regexp_replace(col, _WS_STRIP_RE, ""), frm, to)


def nan_to_null(col: Column, dtype: T.DataType) -> Column:
    """NaN → NULL for float/double columns (reference main.py:113-119
    ``_clean_nan_value``). Spark keeps NaN distinct from NULL; the engine
    normalizes at ingest so every downstream op sees one missing-value
    representation."""
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.when(F.isnan(col), F.lit(None).cast(dtype)).otherwise(col)
    return col


def python_repr_double(col: Column) -> Column:
    """Python ``repr()``/``str()`` of a double, rebuilt from Spark's
    Java-format string cast with pure Column expressions — so the
    serialized string a "string"-typed mapping emits for a float source
    matches the reference byte-for-byte (``str(value)``, main.py:121).

    The two formatters agree digit-for-digit in Java's PLAIN range
    (1e-3 ≤ |v| < 1e7 — verified on 4 000 samples, zero diffs) but
    diverge everywhere Java goes scientific: Java prints ``1.0E16`` /
    ``9.9E-4`` where Python prints ``1e+16`` / ``0.00099`` — Python
    stays plain for exponents in [-4, 15] and writes ``e±XX``
    (lowercase, signed, ≥2 digits) outside. This expression re-formats:
    mantissa digits + exponent are split from the Java form, expanded
    to plain notation for exponents in [-4, 15], and restyled
    otherwise. Specials map to ``inf``/``-inf``/``nan``.

    Java 17's ``Double.toString`` occasionally emits MORE digits than
    the shortest repr (JDK-4511638, fixed only in JDK 19) — e.g. 2⁻²⁴ →
    ``5.9604644775390625E-8`` vs Python's ``5.960464477539063e-08``,
    the min subnormal ``4.9E-324`` vs ``5e-324``, many |v| ≥ 2⁵³. The
    shorten-and-verify branch at the END (VERDICT r4 item 8) closes the
    sci-styled part of that tail: when Java prints ≥17 significant
    digits AND the value formats scientific in Python's style too, the
    HALF_UP 16-digit rendering (``format_string('%.15E')``) is tried
    and accepted iff it casts back to the same double — repr()'s own
    round-trip criterion (measured on the 2⁻²⁴-class ties: HALF_UP
    matches repr's nearest-to-exact-value digit choice). It is a final
    ``when`` branch built ONLY from small subtrees because Column trees
    have no let-binding: the chosen body is substituted ~30× into the
    parser below, so shortening *inside* ``body`` multiplied every
    added node and measurably broke whole-stage codegen compilation
    ("Code grows beyond 64 KB" → interpreted fallback — the wrong trade
    for a hot-path cast; verified both ways). Residual gap, documented:
    overshoots of ≤16 printed digits (e.g. ``7.666663000000001E19``)
    and 17-digit overshoots that format PLAIN in Python (Java exponent
    7…15) stay round-trip value-equal in Python's format style — the
    floor of the contract (tests/test_cast_properties.py pins it, and
    records the measured tail pass rate)."""
    s = col.cast("string")
    neg = s.startswith("-")
    sign = F.when(neg, F.lit("-")).otherwise(F.lit(""))
    body = F.when(neg, s.substr(F.lit(2), F.length(s))).otherwise(s)
    mant = F.substring_index(body, "E", 1)
    exp = F.substring_index(body, "E", -1).cast("int")
    # significant digits of the sci mantissa ("d.ddd" → "dddd", trailing
    # zeros stripped; "1.0" → "1")
    sig = F.regexp_replace(F.regexp_replace(mant, "\\.", ""), "0+$", "")
    sig = F.when(sig == "", F.lit("0")).otherwise(sig)
    nsig = F.length(sig)
    rest = F.lit(64)  # any substr length ≥ the 17-digit maximum
    # plain expansion, exp ∈ [0, 15]: integer part = sig right-padded to
    # exp+1 digits; fraction = remaining digits or "0"
    int_len = exp + F.lit(1)
    ipart = F.when(
        nsig <= int_len,
        F.concat(sig, F.repeat(F.lit("0"), int_len - nsig)),
    ).otherwise(sig.substr(F.lit(1), int_len))
    frac = F.when(nsig > int_len, sig.substr(int_len + 1, rest)).otherwise(
        F.lit("0")
    )
    plain_pos = F.concat(ipart, F.lit("."), frac)
    # plain expansion, exp ∈ [-4, -1]: 0.00…0<sig>
    plain_neg = F.concat(F.lit("0."), F.repeat(F.lit("0"), -exp - 1), sig)
    # Python scientific style: single-digit mantissa head, no trailing
    # ".0", lowercase e, signed exponent of ≥2 digits
    sci = F.concat(
        sig.substr(F.lit(1), F.lit(1)),
        F.when(
            nsig > 1, F.concat(F.lit("."), sig.substr(F.lit(2), rest))
        ).otherwise(F.lit("")),
        F.lit("e"),
        F.when(exp < 0, F.lit("-")).otherwise(F.lit("+")),
        # ≥2 exponent digits; NOT lpad (Spark's lpad truncates "259"→"25")
        F.when(F.abs(exp) < 10, F.concat(F.lit("0"), F.abs(exp).cast("string")))
        .otherwise(F.abs(exp).cast("string")),
    )
    formatted = F.when(~body.contains("E"), body).otherwise(
        F.when((exp >= 0) & (exp <= 15), plain_pos)
        .when((exp >= -4) & (exp < 0), plain_neg)
        .otherwise(sci)
    )
    # --- shorten-and-verify final branch (see docstring) --------------
    # all subtrees here root at `s`/`col` directly (cheap), never at the
    # big parsed tree; `cand` is "d.<15 digits>E±XX" by construction
    cand = F.format_string("%.15E", F.abs(col))
    cexp = F.substring_index(cand, "E", -1).cast("int")
    csig = F.regexp_replace(
        F.regexp_replace(F.substring_index(cand, "E", 1), "\\.", ""),
        "0+$",
        "",
    )
    cand_sci = F.concat(
        csig.substr(F.lit(1), F.lit(1)),
        F.when(
            F.length(csig) > 1,
            F.concat(F.lit("."), csig.substr(F.lit(2), F.lit(64))),
        ).otherwise(F.lit("")),
        F.lit("e"),
        F.when(cexp < 0, F.lit("-")).otherwise(F.lit("+")),
        F.when(
            F.abs(cexp) < 10,
            F.concat(F.lit("0"), F.abs(cexp).cast("string")),
        ).otherwise(F.abs(cexp).cast("string")),
    )
    shorten = (
        # ≥17 Java significant digits in sci form, one regexp test
        s.rlike("^-?[0-9]\\.[0-9]{16,}E")
        # Python styles the (possibly exponent-bumped) value scientific
        & ((cexp > 15) | (cexp < -4))
        # repr's criterion: the shortened digits must round-trip
        & (cand.cast("double") == F.abs(col))
    )
    return (
        F.when(col.isNull(), F.lit(None).cast("string"))
        .when(F.isnan(col), F.lit("nan"))
        .when(body == "Infinity", F.concat(sign, F.lit("inf")))
        # Double.MIN_VALUE is the one fixed 2-digit overshoot
        .when(F.abs(col) == 4.9e-324, F.concat(sign, F.lit("5e-324")))
        .when(shorten, F.concat(sign, cand_sci))
        .otherwise(F.concat(sign, formatted))
    )


def cast_string(col: Column, dtype: T.DataType) -> Column:
    """``str(value)`` with None preserved (reference main.py:121-123)."""
    if isinstance(dtype, T.BooleanType):
        # Python str(True) == "True"; Spark cast gives "true".
        return (
            F.when(col.isNull(), F.lit(None).cast("string"))
            .when(col, F.lit("True"))
            .otherwise(F.lit("False"))
        )
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        # float32 widens to double FIRST (the reference reads parquet
        # through pandas/pyarrow, so Python sees the widened double:
        # str(0.1f) == '0.10000000149011612', not '0.1')
        return python_repr_double(col.cast("double"))
    return col.cast("string")


def cast_integer(col: Column, dtype: T.DataType) -> Column:
    """``int(value)``; failure → NULL (reference omits the property on
    ValueError/TypeError, main.py:227-233 — NULL + null-stripping at
    serialization is observably identical, SURVEY §1.2)."""
    if isinstance(dtype, T.StringType):
        # Gate on the exact Python int() grammar (see module header):
        # int("12.5") / int("0\x1f") raise where Spark's bare cast would
        # accept, and int("1_0")==10 / int("٣")==3 where it would reject.
        # try_cast still guards the long range (Python ints are unbounded;
        # >64-bit literals clamp to NULL, documented deviation).
        norm = _python_numeric_normalize(col)
        return F.when(
            norm.rlike(_INT_RE),
            F.regexp_replace(norm, "_", "").try_cast("long"),
        ).otherwise(F.lit(None).cast("long"))
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        # Python int(datetime) raises TypeError → omit.
        return F.lit(None).cast("long")
    return col.cast("long")


def cast_float(col: Column, dtype: T.DataType) -> Column:
    """``float(value)``; failure → NULL (reference main.py:234-240)."""
    if isinstance(dtype, T.StringType):
        # Same Python-grammar gate as cast_integer, with float()'s larger
        # literal language: "1." / ".5" / "1.e3" / "1_0.5", and the
        # case-insensitive inf/infinity/nan words (float("nan") IS NaN in
        # the reference's output, not NULL — nan_to_null applies to
        # INPUTS, not cast results, main.py:113-119 vs 234-240).
        norm = _python_numeric_normalize(col)
        return (
            F.when(norm.rlike(_NAN_RE), F.lit(float("nan")))
            .when(
                norm.rlike(_INF_RE),
                F.when(norm.startswith("-"), F.lit(float("-inf"))).otherwise(
                    F.lit(float("inf"))
                ),
            )
            .when(
                norm.rlike(_FLOAT_RE),
                F.regexp_replace(norm, "_", "").try_cast("double"),
            )
            .otherwise(F.lit(None).cast("double"))
        )
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return F.lit(None).cast("double")
    return col.cast("double")


def cast_boolean(col: Column, dtype: T.DataType) -> Column:
    """Reference boolean semantics (main.py:241-253): strings by membership
    in BOOLEAN_TRUE_STRINGS (case-insensitive), everything else by Python
    truthiness. NOT a plain cast — Spark's boolean cast rejects "t"/"y"
    and errors instead of falling back to truthiness."""
    if isinstance(dtype, T.BooleanType):
        return col
    if isinstance(dtype, T.StringType):
        # no trim: the reference checks value.lower() membership without
        # strip (main.py:242-249), so ' true' is False there — and here.
        return F.when(
            col.isNull(), F.lit(None).cast("boolean")
        ).otherwise(F.lower(col).isin(*BOOLEAN_TRUE_STRINGS))
    if isinstance(dtype, T.NumericType):
        return F.when(col.isNull(), F.lit(None).cast("boolean")).otherwise(col != 0)
    if isinstance(dtype, T.ArrayType):
        return F.when(col.isNull(), F.lit(None).cast("boolean")).otherwise(
            F.size(col) > 0
        )
    if isinstance(dtype, T.MapType):
        return F.when(col.isNull(), F.lit(None).cast("boolean")).otherwise(
            F.size(F.map_keys(col)) > 0
        )
    # datetimes, structs, binaries: Python truthiness of a non-null object
    return F.when(col.isNull(), F.lit(None).cast("boolean")).otherwise(F.lit(True))


# Formats the reference's dateutil.parser.parse grammar commonly sees
# (main.py:131-149). try_to_timestamp with no format already covers
# ISO 8601 'T'/space separators and fractional seconds; these extend to
# date-only, slashed, and RFC-ish forms. Naive datetimes are treated as
# UTC (session timezone is pinned UTC).
_TS_FORMATS = (
    "yyyy/MM/dd HH:mm:ss",
    "yyyy/MM/dd",
    "MM/dd/yyyy HH:mm:ss",
    "MM/dd/yyyy",
    "dd-MM-yyyy HH:mm:ss",
    "dd MMM yyyy HH:mm:ss",
    "dd MMM yyyy",
    "MMM dd yyyy",
)


def parse_timestamp_lenient(col: Column, dateutil_fallback: bool = False) -> Column:
    """Best-effort string→timestamp mimicking dateutil's lenient grammar
    with a coalesce of try_to_timestamp attempts — entirely JVM-side.
    dateutil accepts strictly more (e.g. "Jan 5th '24"); by default
    exotic forms yield NULL here, a documented parity gap (SURVEY §7
    hard part 2). With ``dateutil_fallback=True`` the gap closes: rows
    the JVM ladder misses fall through to a vectorized pandas_udf
    running the real dateutil grammar — the UDF input is NULLed for
    rows the JVM already parsed, so the Python path only pays for the
    exotic remainder."""
    trimmed = F.trim(col)
    attempts = [F.try_to_timestamp(trimmed)]
    attempts += [F.try_to_timestamp(trimmed, F.lit(fmt)) for fmt in _TS_FORMATS]
    jvm = F.coalesce(*attempts)
    if not dateutil_fallback:
        return jvm
    residual = F.when(jvm.isNull() & trimmed.isNotNull(), trimmed)
    return F.coalesce(jvm, _dateutil_parse_udf()(residual))


def _dateutil_parse_udf():
    """Arrow-batched dateutil parser (reference main.py:131-149 uses
    dateutil.parser.parse per row — here it is the vectorized slow-path
    behind the JVM format ladder, not the hot path). tz-aware results
    convert to UTC-naive; naive results are UTC by session convention;
    unparseable → NULL."""
    from datetime import timezone as _tz

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _parse(s):
        from dateutil import parser as du

        def one(v):
            if v is None:
                return None
            try:
                dt = du.parse(v)
            except (ValueError, OverflowError, TypeError):
                return None
            if dt.tzinfo is not None:
                dt = dt.astimezone(_tz.utc).replace(tzinfo=None)
            return dt

        return s.map(one)

    # real annotation objects (PEP-563 string hints can't resolve the
    # function-local pandas import during pandas_udf type inference)
    _parse.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_parse, returnType="timestamp")


def cast_unix_timestamp_auto(
    col: Column,
    dtype: T.DataType,
    dateutil_fallback: bool = False,
) -> Column:
    """Reference ``unix_timestamp_auto`` (main.py:131-149, 254-259):
    datetime → epoch seconds; int/float → int(v) passthrough; string →
    lenient parse to epoch seconds (naive = UTC); unparseable → NULL.
    The ``time``-target now() fallback is applied by the compiler via
    coalesce, not here."""
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return F.unix_timestamp(col)
    if isinstance(dtype, T.DateType):
        return F.unix_timestamp(col.cast("timestamp"))
    if isinstance(dtype, T.NumericType):
        return col.cast("long")
    if isinstance(dtype, T.BooleanType):
        return col.cast("long")
    if isinstance(dtype, T.StringType):
        return F.unix_timestamp(
            parse_timestamp_lenient(col, dateutil_fallback=dateutil_fallback)
        )
    return F.lit(None).cast("long")


def now_epoch_expr() -> Column:
    """Epoch-seconds "now" (reference main.py:128-129). Deterministic tests
    inject a fixed literal instead."""
    return F.unix_timestamp(F.current_timestamp())


def uuid_expr() -> Column:
    """Fresh UUID4 per row (reference main.py:262, 273). Deterministic
    tests inject a derived expression instead."""
    return F.expr("uuid()")

"""Config → Catalyst-plan compiler (the engine's centerpiece).

The reference's ``MapToMixpanelEvent`` DoFn (main.py:84-293, duplicated at
main_batch.py:106-315) interprets the source config against every row in
Python. Here the config is *compiled once on the driver* into a list of
Column expressions + an error expression; the per-row work is then pure
Catalyst — whole-stage-codegen'd, vectorized, and identical on local[32]
or a 1000-executor cluster. Config evaluation cost moves from O(rows) to
O(1) (SURVEY §2.6, §3.3).

Observable semantics reproduced (citations into the reference):

1. NaN → NULL over the whole row first            (main.py:113-119, 183)
2. event name from column — falsy (NULL or "") → DLQ
   ``missing_dynamic_event_name``                 (main.py:184-193)
   or static config value, default "generic_event" (main.py:194-195)
3. properties seeded with {"token": <token>}      (main.py:196)
4. per-mapping: required-guard → DLQ              (main.py:211-217),
   include-if-none rules                          (main.py:218-223),
   per-type cast ladder                           (main.py:224-265)
   — int/float cast failure omits the property    (main.py:233, 240)
5. wildcard passthrough of unconsumed source keys (main.py:198-201, 266-269)
6. defaults: time ← now() if absent               (main.py:270-271),
   $insert_id ← uuid4() if absent                 (main.py:272-273)
7. missing-both-ids is a metric, not an error     (main.py:274-277)
   → counted from the output ``properties`` by
   ``operators.metrics.observe_transform``
8. NULL properties stripped at serialization      (main.py:125-126, 278)
   → ``to_json`` ``ignoreNullFields`` reproduces this
9. any-error rows carry a structured _error and split to a DLQ
   DataFrame                                      (main.py:151-162, 285-293)
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gcs_parquet_dataflow_spark.config.model import FieldMapping, SourceConfig
from gcs_parquet_dataflow_spark.functions import casts

DEFAULT_EVENT_NAME = "generic_event"
ERROR_COL = "_error"
EVENT_COL = "event"
PROPERTIES_COL = "properties"

# special Mixpanel identity fields whose None values are still processed
# (reference main.py:218-223) so their defaulting casts can fire
_NONE_PROCESSED_FIELDS = {"$user_id", "$device_id", "$insert_id"}


@dataclass(frozen=True)
class CompilerOptions:
    """Injection points for the nondeterministic leaves (SURVEY §7 hard
    part 3): tests / oracle runs replace now()/uuid() with literals or
    key-derived expressions. The ``time``/``$insert_id`` defaults
    (main.py:270-273) are always compiled in; these only choose what
    they evaluate to."""

    token: str | None = None
    now_epoch: Column | None = None
    uuid: Column | None = None
    # when False, strings the JVM format ladder can't parse fall through
    # to a vectorized dateutil pandas_udf — full reference-grammar parity
    # (main.py:131-149) at Python-slow-path cost for the residual rows.
    # True (default) keeps the transform 100% JVM-side.
    strict_timestamps: bool = True

    def now_expr(self) -> Column:
        return self.now_epoch if self.now_epoch is not None else casts.now_epoch_expr()

    def uuid_col(self) -> Column:
        return self.uuid if self.uuid is not None else casts.uuid_expr()


@dataclass
class CompiledTransform:
    """The compiled plan: apply to any DataFrame with the source schema."""

    config: SourceConfig
    event_expr: Column
    property_exprs: list[tuple[str, Column]]
    error_expr: Column  # struct<error_type,reason> — NULL when the row is ok

    def apply(self, df: DataFrame) -> DataFrame:
        """→ DataFrame[event string, properties struct, _error struct].

        Rows with ``_error IS NOT NULL`` are DLQ rows; their event/
        properties are still populated best-effort for DLQ context.
        """
        props = F.struct(
            *[expr.alias(name) for name, expr in self.property_exprs]
        )
        return df.select(
            self.event_expr.alias(EVENT_COL),
            props.alias(PROPERTIES_COL),
            self.error_expr.alias(ERROR_COL),
        )

    def lineage(self, spark: "SparkSession") -> DataFrame:
        """Column-level lineage of the compiled transform → one row per
        OUTPUT property: (config_id, output_field, source_field,
        cast_type, required, is_wildcard) plus the event-name row.

        The config IS the lineage (that's the point of a declarative
        transform); this materializes it as a queryable DataFrame so
        governance tooling can answer "which source columns feed field
        X across all configs" with a plain join — no plan parsing.
        Wildcard passthroughs expand to one row per actually-mapped
        source column at compile time (property_exprs is already the
        expanded list)."""
        cfg = self.config
        explicit = {
            m.mixpanel_field: m
            for m in cfg.field_mappings
            if not m.is_wildcard
        }
        rows = []
        src_of_event = (
            cfg.mixpanel_event_name_from_field
            if cfg.mixpanel_event_name_from_field
            else None
        )
        rows.append(
            (
                cfg.config_id,
                "event",
                src_of_event or "<literal>",
                "event_name",
                src_of_event is not None,
                False,
            )
        )
        for name, _ in self.property_exprs:
            m = explicit.get(name)
            if m is not None:
                rows.append(
                    (
                        cfg.config_id,
                        name,
                        m.source_field,
                        m.type,
                        m.is_required_in_source,
                        False,
                    )
                )
            else:
                rows.append(
                    (cfg.config_id, name, name, "passthrough", False, True)
                )
        return spark.createDataFrame(
            rows,
            "config_id string, output_field string, source_field string,"
            " cast_type string, required boolean, from_wildcard boolean",
        )

    def serialize(self, df: DataFrame) -> DataFrame:
        """Event-JSON shape the reference POSTs (main.py:279-284):
        ``{"event": ..., "properties": {...}}`` with NULL properties
        stripped (``to_json`` ignores null fields by default, matching
        main.py:278's strip)."""
        applied = self.apply(df)
        return applied.select(
            F.to_json(
                F.struct(
                    F.col(EVENT_COL).alias("event"),
                    F.col(PROPERTIES_COL).alias("properties"),
                )
            ).alias("event_json"),
            F.col(ERROR_COL),
        )


def split_dlq(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a transformed DataFrame into (ok, dlq) on the error column —
    the engine's replacement for Beam tagged outputs (main.py:151-162,
    SURVEY §2.10). Callers that consume both sides should ``.persist()``
    upstream to avoid recompute."""
    ok = df.filter(F.col(ERROR_COL).isNull()).drop(ERROR_COL)
    dlq = df.filter(F.col(ERROR_COL).isNotNull())
    return ok, dlq


def _error_struct(error_type: str, reason: Column) -> Column:
    return F.struct(
        F.lit(error_type).alias("error_type"), reason.cast("string").alias("reason")
    )


_CAST_DISPATCH = {
    "string": casts.cast_string,
    "integer": casts.cast_integer,
    "float": casts.cast_float,
    "boolean": casts.cast_boolean,
}


def _compile_mapping(
    m: FieldMapping, dtype: T.DataType, opts: CompilerOptions
) -> Column:
    """Per-type cast dispatch (reference main.py:224-265)."""
    src = casts.nan_to_null(F.col(m.source_field), dtype)
    if m.type in _CAST_DISPATCH:
        return _CAST_DISPATCH[m.type](src, dtype)
    if m.type == "unix_timestamp_auto":
        value = casts.cast_unix_timestamp_auto(
            src, dtype, dateutil_fallback=not opts.strict_timestamps
        )
        if m.mixpanel_field == "time":
            # unparseable/absent `time` falls back to now()
            # (main.py:145-149, 270-271)
            value = F.coalesce(value, opts.now_expr())
        return value
    if m.type == "string_or_uuid":
        value = casts.cast_string(src, dtype)
        if m.mixpanel_field == "$insert_id":
            # only honored for $insert_id (main.py:260-263). Python `or`
            # falls through on EVERY falsy str(value) — None AND "" —
            # so a coalesce (NULL-only) is not enough.
            value = F.when(
                value.isNull() | (value == ""), opts.uuid_col()
            ).otherwise(value)
        return value
    # passthrough (main.py:264-265)
    return src


def compile_config(
    config: SourceConfig,
    schema: T.StructType,
    opts: CompilerOptions | None = None,
) -> CompiledTransform:
    """Compile one source config against one concrete source schema.

    Routing happens per source prefix, so each config sees exactly one
    schema — per-config DataFrames each get a concrete StructType
    (SURVEY §1.3); heterogeneous sources are never unioned pre-serialization.
    """
    opts = opts or CompilerOptions()
    by_name = {f.name: f.dataType for f in schema.fields}

    # --- event name (steps 2) ---------------------------------------
    errors: list[Column] = []
    if config.mixpanel_event_name_from_field:
        src = config.mixpanel_event_name_from_field
        if src in by_name:
            # NaN-clean BEFORE the string cast (the reference cleans the
            # whole row first, main.py:183 — a float-NaN event name is
            # None → DLQ, never the string 'NaN'), then Python-truthiness
            # falsy: None, '', numeric 0, boolean False all DLQ
            # (main.py:184-193 `if not event_name`).
            dtype = by_name[src]
            clean = casts.nan_to_null(F.col(src), dtype)
            raw = clean.cast("string")
            falsy = raw.isNull() | (raw == "")
            if isinstance(dtype, T.NumericType):
                falsy = falsy | (clean == 0)
            elif isinstance(dtype, T.BooleanType):
                falsy = falsy | (~clean)
            elif isinstance(dtype, (T.ArrayType, T.MapType)):
                # Python `if not event_name`: empty list/dict is falsy too.
                # A NON-empty one passes the gate and the reference hands
                # the list/dict itself to json.dumps (main.py:277-281), so
                # the event serializes as a JSON array/object — to_json
                # reproduces that text ('["x"]'), not Spark's plain string
                # cast ('[x]'). Residual deviation, documented: json.dumps
                # uses ', ' separators and nests the value unquoted inside
                # the envelope, while our string-typed event column is
                # re-quoted by serialize(); value text itself matches.
                falsy = falsy | (F.size(clean) == 0)
                raw = F.to_json(clean)
            event_expr = F.when(falsy, F.lit(None)).otherwise(raw)
        else:
            falsy = F.lit(True)
            event_expr = F.lit(None).cast("string")
        errors.append(
            F.when(
                falsy,
                _error_struct(
                    "missing_dynamic_event_name",
                    F.lit(f"field {src!r} is null or empty"),
                ),
            )
        )
    else:
        event_expr = F.lit(config.mixpanel_event_name or DEFAULT_EVENT_NAME)

    # --- properties, in reference dict-insertion order ----------------
    property_exprs: list[tuple[str, Column]] = []
    if opts.token is not None:
        property_exprs.append(("token", F.lit(opts.token)))

    consumed: set[str] = set()
    produced: set[str] = set()
    # property name → emits a double (float cast, or float passthrough/
    # wildcard) — the candidates for the non-finite serialization check
    float_targets: dict[str, bool] = {}
    for m in config.explicit_mappings:
        consumed.add(m.source_field)  # recorded even if cast fails (main.py:209)
        if m.source_field not in by_name:
            if m.is_required_in_source:
                errors.append(
                    F.when(
                        F.lit(True),
                        _error_struct(
                            "missing_required_field",
                            F.lit(f"required field {m.source_field!r} absent"),
                        ),
                    )
                )
            continue
        dtype = by_name[m.source_field]
        src_clean = casts.nan_to_null(F.col(m.source_field), dtype)
        if m.is_required_in_source:
            errors.append(
                F.when(
                    src_clean.isNull(),
                    _error_struct(
                        "missing_required_field",
                        F.lit(f"required field {m.source_field!r} is null"),
                    ),
                )
            )
        value = _compile_mapping(m, dtype, opts)
        if m.type in ("integer", "unix_timestamp_auto") and isinstance(
            dtype, (T.DoubleType, T.FloatType)
        ):
            # int(float('inf')) raises OverflowError, which the cast
            # ladder's except (ValueError, TypeError) at main.py:232 does
            # NOT catch — it propagates to the outer except and DLQs the
            # whole row as critical_transformation_error mid-loop (before
            # later mappings' checks). Same for unix_timestamp_auto: the
            # numeric branch `return int(cleaned_val)` (main.py:139) sits
            # OUTSIDE _parse_timestamp's try, whose except only guards
            # the dateutil branch. NaN was already cleaned to NULL
            # row-wide (main.py:183), so only ±inf can reach int() here;
            # reason matches CPython's str(OverflowError).
            errors.append(
                F.when(
                    F.abs(src_clean) == float("inf"),
                    _error_struct(
                        "critical_transformation_error",
                        F.lit("cannot convert float infinity to integer"),
                    ),
                )
            )
        if not m.include_if_none and m.mixpanel_field not in _NONE_PROCESSED_FIELDS:
            # None source values are skipped (not processed) unless flagged
            # (main.py:218-223); NULL-out matches because final NULLs are
            # stripped either way — but defaulting casts must NOT fire.
            value = F.when(src_clean.isNull(), F.lit(None)).otherwise(value)
        property_exprs.append((m.mixpanel_field, value))
        float_targets[m.mixpanel_field] = m.type == "float" or (
            m.type not in _CAST_DISPATCH
            and m.type not in ("unix_timestamp_auto", "string_or_uuid")
            and isinstance(dtype, (T.DoubleType, T.FloatType))
        )
        produced.add(m.mixpanel_field)

    # --- wildcard passthrough (main.py:198-201, 266-269): copies every
    # source key not consumed by an explicit mapping, verbatim; a dict
    # assignment in the reference, so colliding property names are
    # OVERWRITTEN by the wildcard value (last write wins) -------------
    if config.wildcard is not None:
        for f in schema.fields:
            if f.name in consumed:
                continue
            value = casts.nan_to_null(F.col(f.name), f.dataType)
            existing = [i for i, (n, _) in enumerate(property_exprs) if n == f.name]
            if existing:
                property_exprs[existing[0]] = (f.name, value)
            else:
                property_exprs.append((f.name, value))
            float_targets[f.name] = isinstance(
                f.dataType, (T.DoubleType, T.FloatType)
            )
            produced.add(f.name)

    # --- defaults (main.py:270-273) ------------------------------------
    # "time" defaults to now() whenever the key is absent from the
    # properties dict at end-of-row — which in the reference includes a
    # null-skipped or cast-failed mapped value, not just a missing
    # mapping. Expressed as a coalesce over the mapped value.
    mapping_by_target = {m.mixpanel_field: m for m in config.explicit_mappings}
    time_idx = next(
        (i for i, (n, _) in enumerate(property_exprs) if n == "time"), None
    )
    if time_idx is None:
        property_exprs.append(("time", opts.now_expr()))
    else:
        m = mapping_by_target.get("time")
        now = opts.now_expr()
        if m is not None and m.type in ("string", "string_or_uuid"):
            now = now.cast("string")
        elif m is not None and m.type == "float":
            now = now.cast("double")
        name, expr = property_exprs[time_idx]
        property_exprs[time_idx] = (name, F.coalesce(expr, now))
    if "$insert_id" not in produced:
        property_exprs.append(("$insert_id", opts.uuid_col()))

    # --- non-finite serialization guard (main.py:279-284) --------------
    # The reference serializes with json.dumps(..., allow_nan=False):
    # any ±inf in the final properties — float("inf") casts, inf
    # passthrough/wildcard doubles, and the NaN a float-cast of the
    # string "nan" produces (input NaNs were cleaned, cast RESULTS are
    # not) — raises ValueError, caught by the outer except → DLQ
    # "critical_transformation_error". dumps is the LAST step, so this
    # check is appended after every other error (coalesce precedence).
    inf = float("inf")
    nonfinite_checks = [
        F.isnan(expr) | (F.abs(expr) == inf)
        for name, expr in property_exprs
        if float_targets.get(name)
    ]
    ev_field = config.mixpanel_event_name_from_field
    if ev_field and isinstance(
        by_name.get(ev_field), (T.DoubleType, T.FloatType)
    ):
        # an inf event NAME is truthy (passes the falsy gate) but also
        # un-serializable; its NaN case is cleaned → falsy → caught above
        e = casts.nan_to_null(F.col(ev_field), by_name[ev_field])
        nonfinite_checks.append(F.isnan(e) | (F.abs(e) == inf))
    if nonfinite_checks:
        any_nonfinite = nonfinite_checks[0]
        for c in nonfinite_checks[1:]:
            any_nonfinite = any_nonfinite | c
        errors.append(
            F.when(
                F.coalesce(any_nonfinite, F.lit(False)),
                _error_struct(
                    "critical_transformation_error",
                    F.lit(
                        "Out of range float values are not JSON compliant"
                    ),
                ),
            )
        )

    # --- error precedence: first listed wins (reference raises/returns at
    # the first failing check in program order) -------------------------
    error_expr = (
        F.coalesce(*errors) if errors else F.lit(None).cast(
            "struct<error_type:string,reason:string>"
        )
    )

    return CompiledTransform(
        config=config,
        event_expr=event_expr,
        property_exprs=property_exprs,
        error_expr=error_expr,
    )

"""KQL AST → DataFrame translation.

Folds the parsed pipeline onto MeerkatTable / DataFrame builder calls —
the result is ONE Catalyst logical plan per KQL query (the reference's
parse→plan→optimize→execute lifecycle, README.md:34, with Catalyst and
AQE as the optimizer stages — SURVEY.md §3.3).

KQL semantic deltas live in the function registry below (0-based
substring/indexof, desc-default sort, null-on-failed-cast, term `has`),
sourced from meerkat_spark.functions.
"""

from __future__ import annotations

import math
import os
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from meerkat_spark.localrel import local_df
from meerkat_spark.functions import agg as A
from meerkat_spark.functions import scalar as S
from meerkat_spark.functions import tdigest as _TD
from meerkat_spark.functions import series as SER
from meerkat_spark.catalog import UnknownTableError
from meerkat_spark.functions import geo_s2 as _GEO_S2
from meerkat_spark.kql import parser as P
from meerkat_spark.kql.lexer import KqlSyntaxError
from meerkat_spark.table import MeerkatTable

# Row ceiling for partition-less serialized windows (KQL `serialize`
# semantics compile to a global Window.orderBy — one sort task). Same
# hazard class as scan_steps' max_unpartitioned_rows guard.
MAX_SERIALIZED_WINDOW_ROWS = int(
    os.environ.get("MEERKAT_MAX_SERIALIZED_WINDOW_ROWS", "5000000")
)


# ---------------------------------------------------------------- scalars
def _fn_bin(args: list[Any]) -> Column:
    x, size = args
    if isinstance(x, _Span):
        # bin(timespan, timespan) → a timespan (seconds floored to a
        # multiple of the step)
        step = size.seconds if isinstance(size, _Span) else float(size)
        return _Span((x.seconds // step) * step)
    if isinstance(size, _Span):
        return S.bin_datetime(x, int(size.seconds))
    return S.bin_numeric(x, size)


def _make_timespan_literal(args) -> float:
    """Seconds for literal make_timespan args — (h,m) / (h,m,s) /
    (d,h,m,s), the Kusto arities."""
    vals = [float(x) for x in args]
    if len(vals) == 2:
        d, h, m, s = 0.0, vals[0], vals[1], 0.0
    elif len(vals) == 3:
        d, h, m, s = 0.0, vals[0], vals[1], vals[2]
    elif len(vals) == 4:
        d, h, m, s = vals
    else:
        raise KqlSyntaxError("make_timespan takes 2-4 arguments")
    return d * 86400.0 + h * 3600.0 + m * 60.0 + s


class _Span:
    """Marker for timespan values flowing through translation. Supports
    the literal arithmetic KQL allows on timespans (-5m, 2h + 30m,
    2 * 1h, abs(-1h)) so span expressions stay spans until they meet a
    datetime or numeric context."""

    def __init__(self, seconds: float):
        self.seconds = seconds

    def __neg__(self):
        return _Span(-self.seconds)

    def __abs__(self):
        return _Span(abs(self.seconds))

    def __add__(self, other):
        if isinstance(other, _Span):
            return _Span(self.seconds + other.seconds)
        return NotImplemented

    def __sub__(self, other):
        if isinstance(other, _Span):
            return _Span(self.seconds - other.seconds)
        return NotImplemented

    def __mul__(self, other):
        if isinstance(other, (int, float)):
            return _Span(self.seconds * other)
        return NotImplemented

    __rmul__ = __mul__

    def __truediv__(self, other):
        if isinstance(other, _Span):
            return self.seconds / other.seconds  # ratio is a number
        if isinstance(other, (int, float)):
            return _Span(self.seconds / other)
        return NotImplemented


def _interval(seconds: float) -> Column:
    return F.expr(f"INTERVAL {seconds} SECOND")


_SCALARS: dict[str, Any] = {
    # datetime
    "bin": _fn_bin,
    "floor": lambda a: _fn_bin(a) if len(a) == 2 else F.floor(a[0]),
    "ago": lambda a: F.current_timestamp() - _interval(a[0].seconds if isinstance(a[0], _Span) else float(a[0])),
    "now": lambda a: F.current_timestamp(),
    "ingestion_time": lambda a: F.current_timestamp(),  # stamped at ingest (§2.2.5)
    "startofquarter": lambda a: S.startofquarter(
        _c(a[0]), int(_raw(a[1])) if len(a) > 1 else 0
    ),
    "endofquarter": lambda a: S.endofquarter(
        _c(a[0]), int(_raw(a[1])) if len(a) > 1 else 0
    ),
    "startofday": lambda a: S.startofday(
        _c(a[0]), int(_raw(a[1])) if len(a) > 1 else 0
    ),
    "startofweek": lambda a: S.startofweek(
        _c(a[0]), int(_raw(a[1])) if len(a) > 1 else 0
    ),
    "startofmonth": lambda a: S.startofmonth(
        _c(a[0]), int(_raw(a[1])) if len(a) > 1 else 0
    ),
    "startofyear": lambda a: S.startofyear(
        _c(a[0]), int(_raw(a[1])) if len(a) > 1 else 0
    ),
    "dayofweek": lambda a: S.dayofweek_timespan(_c(a[0])),
    "hourofday": lambda a: S.hourofday(_c(a[0])),
    "week_of_year": lambda a: S.week_of_year(_c(a[0])),
    "getmonth": lambda a: F.month(a[0]),
    "getyear": lambda a: F.year(a[0]),
    "dayofmonth": lambda a: F.dayofmonth(a[0]),
    "format_datetime": lambda a: S.format_datetime(_c(a[0]), str(a[1])),
    "todatetime": lambda a: S.todatetime(_c(a[0])),
    "unixtime_seconds_todatetime": lambda a: S.unixtime_seconds_todatetime(_c(a[0])),
    # round-7 gap closure
    "unixtime_milliseconds_todatetime": lambda a: S.unixtime_milliseconds_todatetime(_c(a[0])),
    "unixtime_microseconds_todatetime": lambda a: S.unixtime_microseconds_todatetime(_c(a[0])),
    "unixtime_nanoseconds_todatetime": lambda a: S.unixtime_nanoseconds_todatetime(_c(a[0])),
    "weekofyear": lambda a: S.week_of_year(_c(a[0])),  # deprecated Kusto alias
    # literal args → a true _Span (usable as bin()/session steps);
    # column args → the engine's seconds-double column form
    "make_timespan": lambda a: (
        _Span(_make_timespan_literal(a))
        if all(not isinstance(x, Column) for x in a)
        else S.make_timespan(*a)
    ),
    "datetime_add": lambda a: S.datetime_add_col(str(a[0]), _c(a[1]), _c(a[2])),
    "datetime_diff": lambda a: S.datetime_diff_boundaries(
        str(a[0]), _c(a[1]), _c(a[2])
    ),
    "datetime_part": lambda a: S.datetime_part(str(a[0]), _c(a[1])),
    "make_datetime": lambda a: S.make_datetime(*[_c(x) for x in a]),
    "dayofyear": lambda a: F.dayofyear(_c(a[0])),
    "monthofyear": lambda a: F.month(_c(a[0])),
    "endofday": lambda a: S.endofday(
        _c(a[0]), int(_raw(a[1])) if len(a) > 1 else 0
    ),
    "endofweek": lambda a: S.endofweek(
        _c(a[0]), int(_raw(a[1])) if len(a) > 1 else 0
    ),
    "endofmonth": lambda a: S.endofmonth(
        _c(a[0]), int(_raw(a[1])) if len(a) > 1 else 0
    ),
    "endofyear": lambda a: S.endofyear(
        _c(a[0]), int(_raw(a[1])) if len(a) > 1 else 0
    ),
    "bin_at": lambda a: (
        S.bin_at_datetime(a[0], a[1].seconds, a[2])
        if isinstance(a[1], _Span)
        else S.bin_at_numeric(a[0], a[1], a[2])
    ),
    "totimespan": lambda a: (
        a[0]
        if isinstance(a[0], _Span)
        else (_unit_span_or_none(a[0]) or S.totimespan_str(_c(a[0])))
        if isinstance(a[0], (Column, str))
        else _Span(float(a[0]))
    ),
    # time() is Kusto's timespan constructor — same coercions, plus
    # quoted unit-suffix literals ('1.5h') via the lexer's own regex
    "time": lambda a: (
        a[0]
        if isinstance(a[0], _Span)
        else (_unit_span_or_none(a[0]) or S.totimespan_str(_c(a[0])))
        if isinstance(a[0], (Column, str))
        else _Span(float(a[0]))
    ),
    # strings
    "strlen": lambda a: S.strlen(_c(a[0])),
    "substring": lambda a: S.substring(_c(a[0]), *a[1:]),
    "strcat": lambda a: S.strcat(*[_span_str(x) for x in a]),
    "strcat_delim": lambda a: S.strcat_delim(a[0], *a[1:]),
    "split": lambda a: S.split(_c(a[0]), a[1], int(a[2]) if len(a) > 2 else None),
    "tolower": lambda a: S.tolower(_c(a[0])),
    "toupper": lambda a: S.toupper(_c(a[0])),
    "trim": lambda a: S.trim(a[0], _c(a[1])),
    "trim_start": lambda a: S.trim_start(a[0], _c(a[1])),
    "trim_end": lambda a: S.trim_end(a[0], _c(a[1])),
    "replace_string": lambda a: S.replace_string(_c(a[0]), a[1], a[2]),
    "replace_regex": lambda a: S.replace_regex(_c(a[0]), a[1], a[2]),
    "extract": lambda a: S.extract(a[0], int(a[1]), _c(a[2])),
    "extract_all": lambda a: S.extract_all(a[0], _c(a[1])),
    "indexof": lambda a: S.indexof(
        _c(a[0]),
        a[1],
        a[2] if len(a) > 2 else None,
        a[3] if len(a) > 3 else None,
        int(_raw(a[4])) if len(a) > 4 else None,
    ),
    "toguid": lambda a: S.toguid(_c(a[0])),
    "countof": lambda a: S.countof(_c(a[0]), a[1]),
    "reverse": lambda a: S.reverse(_c(a[0])),
    "tostring": lambda a: (
        F.lit(_span_str(a[0]))
        if isinstance(a[0], _Span)
        else S.tostring(_c(a[0]))
    ),
    "base64_encode_tostring": lambda a: S.base64_encode_tostring(_c(a[0])),
    "base64_decode_tostring": lambda a: S.base64_decode_tostring(_c(a[0])),
    "hash": lambda a: S.hash_xx(_c(a[0]), int(a[1]) if len(a) > 1 else None),
    "hash_sha256": lambda a: S.hash_sha256(_c(a[0])),
    "hash_md5": lambda a: F.md5(_c(a[0])),
    "hash_sha1": lambda a: S.hash_sha1(_c(a[0])),
    "hash_combine": lambda a: S.hash_combine(*[_c(x) for x in a]),
    "url_encode": lambda a: S.url_encode(_c(a[0])),
    "url_decode": lambda a: S.url_decode(_c(a[0])),
    "strcat_array": lambda a: S.strcat_array(_c(a[0]), a[1] if isinstance(a[1], str) else _c(a[1])),
    "strrep": lambda a: S.strrep(_c(a[0]), _c(a[1]), a[2] if len(a) > 2 else ""),
    "translate": lambda a: S.translate_kql(str(a[0]), str(a[1]), _c(a[2])),
    "extract_json": lambda a: S.extract_json(str(a[0]), _c(a[1])),
    "isempty": lambda a: S.isempty(_c(a[0])),
    "isnotempty": lambda a: S.isnotempty(_c(a[0])),
    "isnull": lambda a: _c(a[0]).isNull(),
    "isnotnull": lambda a: _c(a[0]).isNotNull(),
    # math
    "abs": lambda a: abs(a[0]) if isinstance(a[0], _Span) else F.abs(_c(a[0])),
    "round": lambda a: F.round(_c(a[0]), int(a[1]) if len(a) > 1 else 0),
    "ceiling": lambda a: S.ceiling(_c(a[0])),
    "exp": lambda a: F.exp(_c(a[0])),
    "log": lambda a: F.log(_c(a[0])),
    "log2": lambda a: S.log2(_c(a[0])),
    "log10": lambda a: F.log10(_c(a[0])),
    "pow": lambda a: F.pow(_c(a[0]), _c(a[1])),
    "sqrt": lambda a: F.sqrt(_c(a[0])),
    "sign": lambda a: F.signum(_c(a[0])),
    "sin": lambda a: F.sin(_c(a[0])),
    "cos": lambda a: F.cos(_c(a[0])),
    "tan": lambda a: F.tan(_c(a[0])),
    "cot": lambda a: F.lit(1.0) / F.tan(_c(a[0])),
    "asin": lambda a: F.asin(_c(a[0])),
    "acos": lambda a: F.acos(_c(a[0])),
    "atan": lambda a: F.atan(_c(a[0])),
    "atan2": lambda a: F.atan2(_c(a[0]), _c(a[1])),
    "degrees": lambda a: F.degrees(_c(a[0])),
    "radians": lambda a: F.radians(_c(a[0])),
    "pi": lambda a: F.lit(math.pi),
    "exp2": lambda a: F.pow(F.lit(2.0), _c(a[0])),
    "exp10": lambda a: F.pow(F.lit(10.0), _c(a[0])),
    "isfinite": lambda a: ~(F.isnan(_c(a[0])) | _c(a[0]).isin(float("inf"), float("-inf"))),
    "isinf": lambda a: _c(a[0]).isin(float("inf"), float("-inf")),
    "rand": lambda a: F.rand(),
    "isnan": lambda a: F.isnan(_c(a[0])),
    "not": lambda a: ~_c(a[0]),
    # conditional
    "iff": lambda a: F.when(_colify_pred(a[0]), _c(a[1])).otherwise(_c(a[2])),
    "iif": lambda a: F.when(_colify_pred(a[0]), _c(a[1])).otherwise(_c(a[2])),
    "case": lambda a: S.case(*a),
    "coalesce": lambda a: F.coalesce(*[_c(x) for x in a]),
    # single-catalog context shims (cluster()/database() source
    # qualifiers resolve locally; these report that local context)
    "current_database": lambda a: F.lit("default"),
    "current_cluster_endpoint": lambda a: F.lit("local"),
    "min_of": lambda a: S.min_of(*a),
    "max_of": lambda a: S.max_of(*a),
    # casts
    # KQL typed literals long(null)/int(4)/real(null) — cast semantics
    "long": lambda a: _c(a[0]).cast("long"),
    "int": lambda a: _c(a[0]).cast("int"),
    "real": lambda a: _c(a[0]).cast("double"),
    "string": lambda a: _c(a[0]).cast("string"),
    "bool": lambda a: _c(a[0]).cast("boolean"),
    "datetime_null": lambda a: _c(a[0]).cast("timestamp"),
    "toint": lambda a: S.toint(_c(a[0])),
    "tolong": lambda a: S.tolong(_c(a[0])),
    "todouble": lambda a: S.todouble(_c(a[0])),
    "toreal": lambda a: S.todouble(_c(a[0])),
    "tobool": lambda a: S.tobool(_c(a[0])),
    "todecimal": lambda a: S.todecimal(_c(a[0])),
    # series (dense arrays from make-series)
    "series_fir": lambda a: SER.series_fir(
        _c(a[0]),
        [float(x) for x in _raw(a[1])],
        normalize=bool(_raw(a[2])) if len(a) > 2 else None,
        center=bool(_raw(a[3])) if len(a) > 3 else False,
    ),
    "series_outliers": lambda a: SER.series_outliers(
        _c(a[0]),
        str(_raw(a[1])) if len(a) > 1 else "ctukey",
        float(_raw(a[2])) if len(a) > 2 and _raw(a[2]) is not None else None,
        float(_raw(a[3])) if len(a) > 3 else 10.0,
        float(_raw(a[4])) if len(a) > 4 else 90.0,
    ),
    "series_fit_line": lambda a: SER.series_fit_line(_c(a[0])),
    "series_fit_2lines": lambda a: SER.series_fit_2lines(_c(a[0])),
    "series_fit_poly": lambda a: SER.series_fit_poly(
        _c(a[0]), int(_raw(a[1])) if len(a) > 1 else 1
    ),
    "series_stats_dynamic": lambda a: SER.series_stats_dynamic(_c(a[0])),
    # multi-assign form: extend (mn, mn_i, mx, mx_i, av, var, sd) =
    # series_stats(s) — a struct in Kusto's documented column order
    "series_stats": lambda a: (
        lambda d: F.struct(
            d["min"].alias("series_min"),
            d["min_idx"].alias("series_min_idx"),
            d["max"].alias("series_max"),
            d["max_idx"].alias("series_max_idx"),
            d["avg"].alias("series_avg"),
            d["variance"].alias("series_variance"),
            d["stdev"].alias("series_stdev"),
        )
    )(SER.series_stats_dynamic(_c(a[0]))),
    "series_fft": lambda a: SER.series_fft(_c(a[0])),
    "series_ifft": lambda a: SER.series_ifft(_c(a[0]), _c(a[1])),
    # period -1 (the default) = Kusto's autodetect (periodogram)
    "series_decompose": lambda a: SER.series_decompose(
        _c(a[0]), int(_raw(a[1])) if len(a) > 1 else -1
    ),
    "series_periods_detect": lambda a: SER.series_periods_detect(
        _c(a[0]), int(_raw(a[1])) if len(a) > 1 else 0
    ),
    "series_periods_validate": lambda a: SER.series_periods_validate(
        _c(a[0]), *[int(_raw(p)) for p in a[1:]]
    ),
    "series_fit_line_dynamic": lambda a: SER.series_fit_line_dynamic(_c(a[0])),
    "series_fit_2lines_dynamic": lambda a: SER.series_fit_2lines_dynamic(
        _c(a[0])
    ),
    "series_fill_forward": lambda a: SER.series_fill_forward(_c(a[0])),
    "series_fill_backward": lambda a: SER.series_fill_backward(_c(a[0])),
    "series_fill_const": lambda a: SER.series_fill_const(
        _c(a[0]), float(_raw(a[1])) if len(a) > 1 else 0.0
    ),
    "series_fill_linear": lambda a: SER.series_fill_linear(_c(a[0])),
    "series_decompose_anomalies": lambda a: SER.series_decompose_anomalies(
        _c(a[0]),
        int(_raw(a[1])) if len(a) > 1 else -1,
        float(_raw(a[2])) if len(a) > 2 else 2.5,
    ),
    "series_decompose_forecast": lambda a: SER.series_decompose_forecast(
        _c(a[0]), int(_raw(a[1])), int(_raw(a[2])) if len(a) > 2 else -1
    ),
    # elementwise series arithmetic (JVM HOFs; scalar operands allowed)
    "series_add": lambda a: SER.series_add(_sern(a[0]), _sern(a[1])),
    "series_subtract": lambda a: SER.series_subtract(_sern(a[0]), _sern(a[1])),
    "series_multiply": lambda a: SER.series_multiply(_sern(a[0]), _sern(a[1])),
    "series_divide": lambda a: SER.series_divide(_sern(a[0]), _sern(a[1])),
    "series_pow": lambda a: SER.series_pow(_sern(a[0]), _sern(a[1])),
    "series_greater": lambda a: SER.series_greater(_sern(a[0]), _sern(a[1])),
    "series_greater_equals": lambda a: SER.series_greater_equals(
        _sern(a[0]), _sern(a[1])
    ),
    "series_less": lambda a: SER.series_less(_sern(a[0]), _sern(a[1])),
    "series_less_equals": lambda a: SER.series_less_equals(_sern(a[0]), _sern(a[1])),
    "series_equals": lambda a: SER.series_equals(_sern(a[0]), _sern(a[1])),
    "series_not_equals": lambda a: SER.series_not_equals(_sern(a[0]), _sern(a[1])),
    "series_abs": lambda a: SER.series_abs(_c(a[0])),
    "series_sign": lambda a: SER.series_sign(_c(a[0])),
    "series_exp": lambda a: SER.series_exp(_c(a[0])),
    "series_log": lambda a: SER.series_log(_c(a[0])),
    "series_sin": lambda a: SER.series_sin(_c(a[0])),
    "series_cos": lambda a: SER.series_cos(_c(a[0])),
    "series_tan": lambda a: SER.series_tan(_c(a[0])),
    "series_asin": lambda a: SER.series_asin(_c(a[0])),
    "series_acos": lambda a: SER.series_acos(_c(a[0])),
    "series_atan": lambda a: SER.series_atan(_c(a[0])),
    "series_floor": lambda a: SER.series_floor(_c(a[0])),
    "series_ceiling": lambda a: SER.series_ceiling(_c(a[0])),
    "series_sum": lambda a: SER.series_sum(_c(a[0])),
    "series_product": lambda a: SER.series_product(_c(a[0])),
    "series_magnitude": lambda a: SER.series_magnitude(_c(a[0])),
    "series_pearson_correlation": lambda a: SER.series_pearson_correlation(
        _c(a[0]), _c(a[1])
    ),
    "series_iir": lambda a: SER.series_iir(
        _c(a[0]),
        [float(x) for x in _raw(a[1])],
        [float(x) for x in _raw(a[2])],
    ),
    "series_seasonal": lambda a: SER.series_seasonal(
        _c(a[0]), int(_raw(a[1])) if len(a) > 1 else -1
    ),
    # dynamic / array
    "array_length": lambda a: S.array_length(a[0]),
    "array_concat": lambda a: S.array_concat(*a),
    "array_slice": lambda a: S.array_slice(a[0], a[1], a[2]),
    "array_split": lambda a: S.array_split(a[0], a[1]),
    "ipv4_to_long": lambda a: S.ipv4_to_long(_c(a[0])),
    "format_ipv4": lambda a: S.format_ipv4(
        _c(a[0]), _c(a[1]) if len(a) > 1 else None
    ),
    "ipv4_compare": lambda a: S.ipv4_compare(_c(a[0]), _c(a[1])),
    "ipv4_is_match": lambda a: S.ipv4_is_match(
        _c(a[0]), _c(a[1]), int(_raw(a[2])) if len(a) > 2 else 32
    ),
    "parse_ipv4": lambda a: S.parse_ipv4(_c(a[0])),
    "parse_ipv4_mask": lambda a: S.parse_ipv4_mask(_c(a[0]), _raw(a[1])),
    "has_ipv4": lambda a: S.has_ipv4(_c(a[0]), str(_raw(a[1]))),
    "has_ipv4_prefix": lambda a: S.has_ipv4_prefix(_c(a[0]), str(_raw(a[1]))),
    "has_any_ipv4": lambda a: S.has_any_ipv4(
        _c(a[0]), a[1] if isinstance(a[1], list) else [_raw(x) for x in a[1:]]
    ),
    "has_any_ipv4_prefix": lambda a: S.has_any_ipv4_prefix(
        _c(a[0]), a[1] if isinstance(a[1], list) else [_raw(x) for x in a[1:]]
    ),
    "ipv4_is_in_range": lambda a: S.ipv4_is_in_range(_c(a[0]), _c(a[1])),
    "ipv4_is_private": lambda a: S.ipv4_is_private(_c(a[0])),
    "ipv4_netmask_suffix": lambda a: S.ipv4_netmask_suffix(_c(a[0])),
    "format_ipv4_mask": lambda a: S.format_ipv4_mask(_c(a[0]), _c(a[1])),
    # variadic (ip, r1, r2, ...) or (ip, dynamic([...]))
    "ipv4_is_in_any_range": lambda a: S.ipv4_is_in_any_range(
        _c(a[0]),
        a[1] if len(a) == 2 and isinstance(a[1], list) else [str(x) for x in a[1:]],
    ),
    "ipv6_is_in_range": lambda a: S.ipv6_is_in_range(_c(a[0]), _c(a[1])),
    "ipv6_is_in_any_range": lambda a: S.ipv6_is_in_any_range(
        _c(a[0]),
        a[1] if len(a) == 2 and isinstance(a[1], list) else [str(x) for x in a[1:]],
    ),
    "ipv4_range_to_cidr_list": lambda a: S.ipv4_range_to_cidr_list(
        _c(a[0]), _c(a[1])
    ),
    "parse_version": lambda a: S.parse_version(_c(a[0])),
    "parse_user_agent": lambda a: S.parse_user_agent(_c(a[0])),
    "convert_length": lambda a: S.convert_length(_c(a[0]), str(_raw(a[1])), str(_raw(a[2]))),
    "convert_mass": lambda a: S.convert_mass(_c(a[0]), str(_raw(a[1])), str(_raw(a[2]))),
    "convert_speed": lambda a: S.convert_speed(_c(a[0]), str(_raw(a[1])), str(_raw(a[2]))),
    "convert_energy": lambda a: S.convert_energy(_c(a[0]), str(_raw(a[1])), str(_raw(a[2]))),
    "convert_angle": lambda a: S.convert_angle(_c(a[0]), str(_raw(a[1])), str(_raw(a[2]))),
    "convert_force": lambda a: S.convert_force(_c(a[0]), str(_raw(a[1])), str(_raw(a[2]))),
    "convert_volume": lambda a: S.convert_volume(_c(a[0]), str(_raw(a[1])), str(_raw(a[2]))),
    "convert_temperature": lambda a: S.convert_temperature(
        _c(a[0]), str(_raw(a[1])), str(_raw(a[2]))
    ),
    "datetime_utc_to_local": lambda a: S.datetime_utc_to_local(
        _c(a[0]), a[1] if isinstance(a[1], str) else _c(a[1])
    ),
    "datetime_local_to_utc": lambda a: S.datetime_local_to_utc(
        _c(a[0]), a[1] if isinstance(a[1], str) else _c(a[1])
    ),
    "parse_url": lambda a: S.parse_url(_c(a[0])),
    "parse_urlquery": lambda a: S.parse_urlquery(_c(a[0])),
    "parse_xml": lambda a: S.parse_xml(_c(a[0])),
    "parse_command_line": lambda a: S.parse_command_line(
        _c(a[0]), _raw(a[1]) if len(a) > 1 else "windows"
    ),
    "parse_path": lambda a: S.parse_path(_c(a[0])),
    "punycode_from_string": lambda a: S.punycode_from_string(_c(a[0])),
    "punycode_to_string": lambda a: S.punycode_to_string(_c(a[0])),
    "punycode_domain_from_string": lambda a: S.punycode_domain_from_string(_c(a[0])),
    "punycode_domain_to_string": lambda a: S.punycode_domain_to_string(_c(a[0])),
    "extractjson": lambda a: S.extract_json(str(a[0]), _c(a[1])),
    # bitwise (Kusto binary_* scalars; shifts take literal counts)
    "binary_and": lambda a: _c(a[0]).cast("long").bitwiseAND(_c(a[1]).cast("long")),
    "binary_or": lambda a: _c(a[0]).cast("long").bitwiseOR(_c(a[1]).cast("long")),
    "binary_xor": lambda a: _c(a[0]).cast("long").bitwiseXOR(_c(a[1]).cast("long")),
    "binary_not": lambda a: F.bitwise_not(_c(a[0]).cast("long")),
    "binary_shift_left": lambda a: F.shiftleft(_c(a[0]).cast("long"), int(_raw(a[1]))),
    "binary_shift_right": lambda a: F.shiftright(_c(a[0]).cast("long"), int(_raw(a[1]))),
    "geo_distance_2points": lambda a: S.geo_distance_2points(
        _c(a[0]), _c(a[1]), _c(a[2]), _c(a[3])
    ),
    "geo_point_in_circle": lambda a: S.geo_point_in_circle(
        _c(a[0]), _c(a[1]), _c(a[2]), _c(a[3]), _c(a[4])
    ),
    "geo_point_in_polygon": lambda a: S.geo_point_in_polygon(
        _c(a[0]), _c(a[1]), _c(a[2])
    ),
    "geo_line_length": lambda a: S.geo_line_length(_c(a[0])),
    "strcmp": lambda a: S.strcmp(_c(a[0]), _c(a[1])),
    # special math (Lanczos / A&S codegen approximations)
    "gamma": lambda a: S.gamma(_c(a[0])),
    "loggamma": lambda a: S.loggamma(_c(a[0])),
    "erf": lambda a: S.erf(_c(a[0])),
    "beta_pdf": lambda a: S.beta_pdf(_c(a[0]), _c(a[1]), _c(a[2])),
    "beta_cdf": lambda a: S.beta_cdf(_c(a[0]), _c(a[1]), _c(a[2])),
    "beta_inv": lambda a: S.beta_inv(_c(a[0]), _c(a[1]), _c(a[2])),
    "erfc": lambda a: S.erfc(_c(a[0])),
    "welch_test": lambda a: S.welch_test(
        _c(a[0]), _c(a[1]), _c(a[2]), _c(a[3]), _c(a[4]), _c(a[5])
    ),
    # compression codecs (deterministic level-6, Arrow kernels)
    "zlib_compress_to_base64_string": lambda a: S.zlib_compress_to_base64_string(
        _c(a[0])
    ),
    "zlib_decompress_from_base64_string": lambda a: (
        S.zlib_decompress_from_base64_string(_c(a[0]))
    ),
    "gzip_compress_to_base64_string": lambda a: S.gzip_compress_to_base64_string(
        _c(a[0])
    ),
    "gzip_decompress_from_base64_string": lambda a: (
        S.gzip_decompress_from_base64_string(_c(a[0]))
    ),
    "parse_ipv6": lambda a: S.parse_ipv6(_c(a[0])),
    "ipv6_compare": lambda a: S.ipv6_compare(_c(a[0]), _c(a[1])),
    "ipv6_is_match": lambda a: S.ipv6_is_match(
        _c(a[0]), _c(a[1]), int(_raw(a[2])) if len(a) > 2 else 128
    ),
    "bitset_count_ones": lambda a: S.bitset_count_ones(_c(a[0])),
    "base64_decode_toarray": lambda a: S.base64_decode_toarray(_c(a[0])),
    "base64_encode_fromarray": lambda a: S.base64_encode_fromarray(a[0]),
    "geo_point_to_geohash": lambda a: S.geo_point_to_geohash(
        _c(a[0]), _c(a[1]), int(_raw(a[2])) if len(a) > 2 else 5
    ),
    "geo_point_to_s2cell": lambda a: _GEO_S2.geo_point_to_s2cell(
        _c(a[0]), _c(a[1]), int(_raw(a[2])) if len(a) > 2 else 12
    ),
    "geo_s2cell_to_central_point": lambda a: _GEO_S2.geo_s2cell_to_central_point(
        _c(a[0])
    ),
    # KQL returns GeoJSON dynamic — this engine's dynamic is a JSON string
    "geo_geohash_to_central_point": lambda a: F.when(
        S.geo_geohash_to_central_point(_c(a[0])).isNotNull(),
        F.to_json(
            F.struct(
                F.lit("Point").alias("type"),
                F.array(
                    S.geo_geohash_to_central_point(_c(a[0]))["lng"],
                    S.geo_geohash_to_central_point(_c(a[0]))["lat"],
                ).alias("coordinates"),
            )
        ),
    ),
    # round-5 additions
    "series_dot_product": lambda a: S.series_dot_product(_c(a[0]), _c(a[1])),
    "series_cosine_similarity": lambda a: S.series_cosine_similarity(
        _c(a[0]), _c(a[1])
    ),
    "array_iff": lambda a: S.array_iff(a[0], a[1], a[2]),
    "array_iif": lambda a: S.array_iff(a[0], a[1], a[2]),
    "regex_quote": lambda a: S.regex_quote(_c(a[0])),
    "parse_csv": lambda a: S.parse_csv(_c(a[0])),
    "parse_kv": lambda a: S.parse_kv(
        _c(a[0]),
        str(_raw(a[1])) if len(a) > 1 else ";",
        str(_raw(a[2])) if len(a) > 2 else "=",
    ),
    "bag_merge": lambda a: S.bag_merge(_c(a[0]), _c(a[1])),
    "bag_remove_keys": lambda a: S.bag_remove_keys(_c(a[0]), _c(a[1])),
    "bag_has_key": lambda a: S.bag_has_key(
        _c(a[0]), a[1] if isinstance(a[1], str) else _c(a[1])
    ),
    "bag_set_key": lambda a: S.bag_set_key(_c(a[0]), a[1], a[2]),
    # round-4 string/byte surface
    "tohex": lambda a: S.tohex(_c(a[0]), int(_raw(a[1])) if len(a) > 1 else None),
    "string_size": lambda a: S.string_size(_c(a[0])),
    "isascii": lambda a: S.isascii(_c(a[0])),
    "isutf8": lambda a: S.isutf8(_c(a[0])),
    "percentile_tdigest": lambda a: _TD.percentile_tdigest_col(
        _c(a[0]), float(_raw(a[1]))
    ),
    "percentrank_tdigest": lambda a: _TD.percentrank_tdigest_col(
        _c(a[0]), _c(a[1])
    ),
    "rank_tdigest": lambda a: _TD.rank_tdigest_col(_c(a[0]), _c(a[1])),
    "indexof_regex": lambda a: S.indexof_regex(_c(a[0]), str(_raw(a[1]))),
    "new_guid": lambda a: S.new_guid(),
    "unicode_codepoints_from_string": lambda a: S.unicode_codepoints_from_string(_c(a[0])),
    "unicode_codepoints_to_string": lambda a: S.unicode_codepoints_to_string(_c(a[0])),
    "replace_strings": lambda a: S.replace_strings(_c(a[0]), _c(a[1]), _c(a[2])),
    "has_any_index": lambda a: S.has_any_index(_c(a[0]), _c(a[1])),
    "format_bytes": lambda a: S.format_bytes(
        _c(a[0]),
        int(_raw(a[1])) if len(a) > 1 else 0,
        str(_raw(a[2])) if len(a) > 2 else None,
    ),
    "format_timespan": lambda a: S.format_timespan(
        a[0].seconds if isinstance(a[0], _Span) else _c(a[0]),
        str(_raw(a[1])) if len(a) > 1 else "hh:mm:ss",
    ),
    "repeat": lambda a: S.repeat_value(_c(a[0]), a[1]),
    # range() SCALAR (array of start..stop by step, inclusive) — numeric
    # or datetime+timespan; distinct from the `range` table source
    "range": lambda a: F.sequence(
        _c(a[0]),
        _c(a[1]),
        F.expr(f"INTERVAL {int(a[2].seconds)} SECOND")
        if len(a) > 2 and isinstance(a[2], _Span)
        else (_c(a[2]) if len(a) > 2 else F.lit(1)),
    ),
    # around(x, center, delta): |x - center| <= delta; a timespan delta
    # implies datetime operands (microsecond arithmetic)
    "around": lambda a: (
        F.abs(
            F.unix_micros(_c(a[0]).cast("timestamp"))
            - F.unix_micros(_c(a[1]).cast("timestamp"))
        )
        <= F.lit(int(a[2].seconds * 1_000_000))
        if isinstance(a[2], _Span)
        else F.abs(_c(a[0]) - _c(a[1])) <= _c(a[2])
    ),
    "array_sort_asc": lambda a: S.array_sort_asc(a[0]),
    "array_sort_desc": lambda a: S.array_sort_desc(a[0]),
    "array_index_of": lambda a: S.array_index_of(
        a[0], a[1], int(_raw(a[2])) if len(a) > 2 else 0
    ),
    "array_reverse": lambda a: F.reverse(_c(a[0])),
    "array_rotate_left": lambda a: S.array_rotate_left(a[0], _c(a[1])),
    "array_rotate_right": lambda a: S.array_rotate_right(a[0], _c(a[1])),
    "array_shift_left": lambda a: S.array_shift_left(
        a[0], _c(a[1]), a[2] if len(a) > 2 else None
    ),
    "array_shift_right": lambda a: S.array_shift_right(
        a[0], _c(a[1]), a[2] if len(a) > 2 else None
    ),
    "set_has_element": lambda a: F.array_contains(_c(a[0]), _c(a[1])),
    "jaccard_index": lambda a: S.jaccard_index(a[0], a[1]),
    "set_union": lambda a: S.set_union(*a),
    "set_intersect": lambda a: S.set_intersect(a[0], a[1]),
    "set_difference": lambda a: S.set_difference(a[0], a[1]),
    "pack_array": lambda a: _pack_array_dispatch(a),
    "pack": lambda a: S.pack(*a),
    "bag_zip": lambda a: S.bag_zip(_c(a[0]), _c(a[1])),
    "dynamic_to_json": lambda a: S.dynamic_to_json(_c(a[0])),
    "format_number": lambda a: S.format_number(_c(a[0]), _raw(a[1])),
    "bag_pack": lambda a: S.pack(*a),
    "pack_dictionary": lambda a: S.pack(*a),  # deprecated Kusto alias
    # translator _c: a literal bag arrives as a JSON *string*, which
    # scalar.py's own _c would misread as a column name
    "bag_keys": lambda a: S.bag_keys(_c(a[0])),
    "treepath": lambda a: S.treepath(a[0]),
    "make_string": lambda a: S.unicode_codepoints_to_string(_c(a[0])),
    "zip": lambda a: S.zip_arrays(*a),
    "array_sum": lambda a: S.array_sum(a[0]),
    "array_avg": lambda a: S.array_avg(a[0]),
    "parse_json": lambda a: _c(a[0]),  # dynamic is a JSON string (types.py)
    "todynamic": lambda a: _c(a[0]),
    "tolist": lambda a: _c(a[0]),
}

_AGGS: dict[str, Any] = {
    "count": lambda a: A.count(),
    "countif": lambda a: A.countif(a[0]),
    "dcount": lambda a: A.dcount(a[0]),
    "dcountif": lambda a: A.dcountif(a[0], a[1]),
    "sum": lambda a: F.sum(_c(a[0])),
    "sumif": lambda a: A.sumif(a[0], a[1]),
    "avg": lambda a: F.avg(_c(a[0])),
    "avgif": lambda a: A.avgif(a[0], a[1]),
    "min": lambda a: F.min(_c(a[0])),
    "minif": lambda a: A.minif(a[0], a[1]),
    "max": lambda a: F.max(_c(a[0])),
    "maxif": lambda a: A.maxif(a[0], a[1]),
    "arg_max": lambda a: A.arg_max(a[0], a[1]),
    "arg_min": lambda a: A.arg_min(a[0], a[1]),
    "take_any": lambda a: A.take_any(a[0]),
    "any": lambda a: A.take_any(a[0]),
    "take_anyif": lambda a: A.take_any(F.when(_colify_pred(a[1]), _c(a[0]))),
    "anyif": lambda a: A.take_any(F.when(_colify_pred(a[1]), _c(a[0]))),
    # KQL percentiles are 0–100 percentages; the builder API is 0–1
    "percentile": lambda a: A.percentile(a[0], float(_raw(a[1])) / 100.0),
    "percentiles": lambda a: A.percentiles(a[0], *[float(_raw(p)) / 100.0 for p in a[1:]]),
    "percentiles_array": lambda a: A.percentiles(
        a[0], *[float(_raw(p)) / 100.0 for p in a[1:]]
    ),
    "stdev": lambda a: A.stdev(a[0]),
    "stdevp": lambda a: A.stdevp(a[0]),
    "variance": lambda a: A.variance(a[0]),
    "variancep": lambda a: A.variancep(a[0]),
    # round-7 conditional variants (Kusto aggregates ignore nulls, so
    # the when() filter composes exactly)
    "stdevif": lambda a: A.stdev(F.when(_colify_pred(a[1]), _c(a[0]))),
    "varianceif": lambda a: A.variance(F.when(_colify_pred(a[1]), _c(a[0]))),
    "hll_if": lambda a: A.hll(F.when(_colify_pred(a[1]), _c(a[0]))),
    "make_list": lambda a: (
        F.slice(A.make_list(a[0]), 1, int(_raw(a[1])))
        if len(a) > 1
        else A.make_list(a[0])
    ),
    "make_set": lambda a: (
        F.slice(A.make_set(a[0]), 1, int(_raw(a[1])))
        if len(a) > 1
        else A.make_set(a[0])
    ),
    "make_list_if": lambda a: A.make_list_if(a[0], a[1]),
    "make_set_if": lambda a: A.make_set_if(a[0], a[1]),
    # Kusto signature: make_bag(bag [, maxSize]) — merges EXISTING
    # property bags (the (k, v) pair form is the API-only convenience)
    "make_bag": lambda a: A.make_bag_merge(
        a[0], int(_raw(a[1])) if len(a) > 1 else None
    ),
    "binary_all_and": lambda a: A.binary_all_and(a[0]),
    "binary_all_or": lambda a: A.binary_all_or(a[0]),
    "binary_all_xor": lambda a: A.binary_all_xor(a[0]),
    "hll": lambda a: A.hll(a[0]),
    "hll_merge": lambda a: A.hll_merge(a[0]),
    "buildschema": lambda a: A.buildschema(a[0]),
    "tdigest": lambda a: _TD.tdigest_agg(_c(a[0])),
    "tdigest_merge": lambda a: _TD.merge_tdigest_agg(_c(a[0])),
    "merge_tdigest": lambda a: _TD.merge_tdigest_agg(_c(a[0])),
    "dcount_hll": lambda a: A.dcount_hll(a[0]),
    # KQL percentile scale is 0-100
    "percentilew": lambda a: A.percentilew(a[0], a[1], float(_raw(a[2])) / 100.0),
    "percentilesw": lambda a: A.percentilesw(
        a[0], a[1], *[float(_raw(p)) / 100.0 for p in a[2:]]
    ),
    # Kusto signature: make_bag_if(bag, predicate [, maxSize])
    "make_bag_if": lambda a: A.make_bag_merge(
        F.when(_colify_pred(a[1]), _c(a[0])),
        int(_raw(a[2])) if len(a) > 2 else None,
    ),
    # collect_list drops nulls; boxing values in a struct keeps them
    # (a struct with a null field is itself non-null). Sorted for the
    # suite's deterministic-collection convention.
    "make_list_with_nulls": lambda a: F.sort_array(
        F.collect_list(
            F.struct(_c(a[0]).isNull().alias("isnull"), _c(a[0]).alias("v"))
        )
    ).getField("v"),
    "count_distinct": lambda a: F.countDistinct(_c(a[0])),
    "count_distinctif": lambda a: F.countDistinct(F.when(_colify_pred(a[1]), _c(a[0]))),
    "sum_distinct": lambda a: F.sum_distinct(_c(a[0])),
    "covariance": lambda a: F.covar_samp(_c(a[0]), _c(a[1])),
    "covariancep": lambda a: F.covar_pop(_c(a[0]), _c(a[1])),
}


def _c(x: Any) -> Column:
    if isinstance(x, Column):
        return x
    if isinstance(x, _Span):
        return _interval(x.seconds)
    return F.lit(x)


def _raw(x: Any):
    """Literal python value out of a translated arg (for e.g. percentile p)."""
    if isinstance(x, Column):
        raise KqlSyntaxError("expected a literal argument")
    return x


def _dyn_entries_udf(bag_mode: str):
    """JSON-string dynamic → array<string> of expandable elements for
    mv-expand: JSON arrays yield one element per item (scalars rendered
    get_json_object-style — strings unquoted, numbers canonical, nested
    as JSON); JSON objects yield one single-entry bag per property
    (Kusto bagexpansion=bag) or a [key, value] pair array
    (bagexpansion=array). Arrow batch kernel — exact value rendering
    needs real JSON parsing."""
    import json

    import pandas as pd

    from pyspark.sql import types as T2

    def render(x):
        if x is None:
            return None
        if isinstance(x, str):
            return x
        if isinstance(x, bool):
            return "true" if x else "false"
        return json.dumps(x, separators=(",", ":"))

    def kern(vals):
        out = []
        for v in vals:
            if v is None:
                out.append(None)
                continue
            try:
                parsed = json.loads(v) if isinstance(v, str) else v
            except (ValueError, TypeError):
                # Kusto passes non-dynamic scalars through as a single
                # row (print s='hello' | mv-expand s → one row), so a
                # non-JSON string expands to itself, not to nothing.
                out.append([v])
                continue
            if isinstance(parsed, list):
                out.append([render(x) for x in parsed])
            elif isinstance(parsed, dict):
                if bag_mode == "array":
                    out.append(
                        [
                            json.dumps([k, x], separators=(",", ":"))
                            for k, x in parsed.items()
                        ]
                    )
                else:
                    out.append(
                        [
                            json.dumps({k: x}, separators=(",", ":"))
                            for k, x in parsed.items()
                        ]
                    )
            else:
                out.append([render(parsed)])
        return pd.Series(out)

    kern.__annotations__ = {"vals": pd.Series, "return": pd.Series}
    return F.pandas_udf(T2.ArrayType(T2.StringType()))(kern)


def _pack_array_dispatch(a: list):
    """pack_array: homogeneous args build a native ARRAY (typed, HOF-
    indexable); an all-literal HETEROGENEOUS list (Kusto dynamic arrays
    are untyped — pack_array(1, 'a', true)) becomes a JSON-string
    dynamic literal, the engine's convention for mixed shapes."""
    if all(not isinstance(x, Column) for x in a):
        kinds = {
            (bool if isinstance(x, bool) else float if isinstance(x, (int, float)) else type(x))
            for x in a
            if x is not None
        }
        if len(kinds) > 1:
            import json

            return F.lit(json.dumps(list(a), separators=(",", ":")))
    return S.pack_array(*a)


def _unit_span_or_none(x: Any):
    """Python-string unit-suffix timespan ('1.5h', '90s') → _Span, else
    None (caller falls through to the [d.]hh:mm:ss column parser)."""
    if not isinstance(x, str):
        return None
    from meerkat_spark.kql.lexer import _TIMESPAN_RE, TIMESPAN_SECONDS

    m = _TIMESPAN_RE.fullmatch(x.strip())
    if not m:
        return None
    return _Span(float(m.group("num")) * TIMESPAN_SECONDS[m.group("unit")])


def _span_str(x: Any):
    """Timespans render as Kusto's [d.]hh:mm:ss inside string contexts
    (strcat & friends)."""
    if isinstance(x, _Span):
        # round to Kusto's 7-digit (100ns-tick) resolution BEFORE the
        # divmod split: a fraction >= .99999995 must carry into the
        # seconds, not render as a dangling '.'
        total = round(abs(x.seconds), 7)
        sign = "-" if x.seconds < 0 else ""
        d, rem = divmod(int(total), 86400)
        h, rem = divmod(rem, 3600)
        m, sec = divmod(rem, 60)
        ticks = int(round((total - int(total)) * 10**7))
        body = (f"{d}." if d else "") + f"{h:02d}:{m:02d}:{sec:02d}"
        if ticks:
            # Kusto renders the full fixed 7-digit fractional field
            body += f".{ticks:07d}"
        return sign + body
    return x


def _sern(x: Any):
    """series-or-numeric operand: numeric literals stay Python numbers
    (series_* scalar broadcast), anything else becomes a Column."""
    if isinstance(x, (int, float)) and not isinstance(x, bool):
        return x
    return _c(x)


class Translator:
    def __init__(self, engine, lets: dict[str, Any] | None = None):
        self.engine = engine
        self.lets = lets or {}
        self.let_tables: dict[str, DataFrame] = {}
        # KQL window functions operate over SERIALIZED tables: `sort`/
        # `serialize` record the frozen order here; row_number()/prev()/
        # next()/row_cumsum()/row_rank_* then window over it.
        self.serialize_order: list[Column] | None = None
        # inside a `partition by col (subquery)` scope: window functions
        # compile KEYED on these columns (Kusto runs the subquery per
        # partition — row_number() restarts per key, and the window is
        # shuffle-parallel instead of a global single-task sort)
        self._partition_cols: list[Column] | None = None
        # DataFrames persist()ed by materialize() during this query —
        # surfaced to the engine so the NEXT query (or an explicit
        # clear_materialized()) can unpersist them; otherwise every
        # materialized let leaks cached blocks for the session lifetime.
        self.persisted: list[DataFrame] = []
        # schema of the operator's input table while translating its
        # args — lets Member access distinguish struct fields from
        # dynamic-JSON paths
        self._cur_schema = None
        # in()-subquery appearing INSIDE an expression (extend ok =
        # x in ((T|project c)), iff(... in ...), …): when the consuming
        # operator supports it (_in_join_ok), a large subquery becomes
        # a registered broadcast membership join instead of a giant
        # literal/driver collect (VERDICT r9 'what's missing' #2 — the
        # filter path already had this fallback). Each entry resolves
        # to a boolean marker column the expression references.
        self._in_join_ok = False
        self._pending_in_joins: list[dict] = []

    # ---------------------------------------------------------- expressions
    def _dyn_literal_list(self, node: Any, plugin: str) -> list:
        """Python list out of an all-literal dynamic([...]) plugin arg
        (timespan elements arrive as seconds, expr()'s convention)."""
        v = self.expr(node)
        if not isinstance(v, list):
            raise KqlSyntaxError(
                f"{plugin} expects a dynamic([...]) literal of constants"
            )
        return v

    def expr(self, node: Any, agg: bool = False) -> Any:
        if isinstance(node, P.Lit):
            return node.value
        if isinstance(node, P.Timespan):
            return _Span(node.seconds)
        if isinstance(node, P.DateTimeLit):
            # datetime(null) is Kusto's typed null literal, not a parse
            # of the string 'null' (which would raise under ANSI cast)
            if node.text.strip().lower() == "null":
                return F.lit(None).cast("timestamp")
            return F.lit(node.text).cast("timestamp")
        if isinstance(node, P.DynamicLit):
            vals = [self.expr(i) for i in node.items]
            if all(not isinstance(v, Column) for v in vals):
                # all-literal dynamic([...]) stays a python list so
                # functions needing literal weights (series_fir) can
                # consume it; _c() turns it into an array literal
                return [v.seconds if isinstance(v, _Span) else v for v in vals]
            return F.array(*[_c(v) for v in vals])
        if isinstance(node, P.Ident):
            name = node.name
            if name in self.lets and not isinstance(self.lets[name], P.Pipeline):
                bound = self.lets[name]
                # already-evaluated binding (lambda arg) → return as-is;
                # AST binding (let) → translate
                if isinstance(bound, (Column, _Span)) or not hasattr(
                    bound, "__dataclass_fields__"
                ):
                    return bound
                return self.expr(bound, agg=agg)
            if name.startswith("$left.") or name.startswith("$right."):
                return F.col(name.split(".", 1)[1])
            if name == "*":
                return F.col("*")
            return F.col(name)
        if isinstance(node, P.Member):
            # struct member access when the chain resolves to struct
            # fields of the current table (e.g. series_decompose output
            # or as-struct extends); otherwise dynamic-JSON path access
            chain: list[str] = [node.name]
            b = node.base
            while isinstance(b, P.Member):
                chain.append(b.name)
                b = b.base
            if isinstance(b, P.Ident) and self._cur_schema is not None:
                chain.append(b.name)
                chain.reverse()
                from pyspark.sql import types as ST

                dt: ST.DataType | None = None
                fields = {f.name: f.dataType for f in self._cur_schema.fields}
                ok = chain[0] in fields
                if ok:
                    dt = fields[chain[0]]
                    for name in chain[1:]:
                        if isinstance(dt, ST.StructType) and name in dt.fieldNames():
                            dt = dt[name].dataType
                        else:
                            ok = False
                            break
                if ok:
                    return F.col(".".join(f"`{c}`" for c in chain))
            base = _c(self.expr(node.base))
            return F.get_json_object(base, f"$.{node.name}")
        if isinstance(node, P.Index):
            base = self.expr(node.base)
            idx = self.expr(node.index)
            # d['key'] bracket member access (Kusto: same as d.key —
            # the form for keys that aren't valid identifiers)
            if isinstance(idx, str):
                return F.get_json_object(_c(base), f"$['{idx}']")
            if self._is_array_expr(node.base):
                # real ARRAY values index natively (0-based KQL →
                # 1-based try_element_at; negative = from end)
                if isinstance(idx, Column):
                    # computed index: a[i] — per-row branch mirrors the
                    # literal path (0-based KQL → 1-based element_at;
                    # negative passes through for from-end semantics)
                    i = idx.cast("int")
                    return F.when(
                        i >= 0, F.try_element_at(_c(base), i + 1)
                    ).otherwise(F.try_element_at(_c(base), i))
                i = int(idx)
                return F.try_element_at(
                    _c(base), F.lit(i + 1 if i >= 0 else i)
                )
            if isinstance(idx, Column):
                # computed index over a JSON-string dynamic: parse to
                # an array of raw JSON fragments first (same per-row
                # negative-index branch as the native-array path)
                arr = F.from_json(_c(base), "array<string>")
                i = idx.cast("int")
                return F.when(
                    i >= 0, F.try_element_at(arr, i + 1)
                ).otherwise(F.try_element_at(arr, i))
            # JSON-string dynamics go through the JSON path
            return F.get_json_object(_c(base), f"$[{int(idx)}]")
        if isinstance(node, P.Unary):
            v = self.expr(node.operand, agg=agg)
            if node.op == "-":
                return -_c(v) if isinstance(v, Column) else -v
            if node.op == "not":
                return ~_c(v)
        if isinstance(node, P.Binary):
            return self.binary(node, agg=agg)
        if isinstance(node, P.InList):
            col = _c(self.expr(node.expr))
            if len(node.values) == 1 and isinstance(node.values[0], P.Pipeline):
                # in ((T | project col)): small subqueries (<= the same
                # _IN_LITERAL_MAX the filter path uses) become a literal
                # isin — it constant-folds and pushes down. Larger ones
                # in a join-capable context register a broadcast
                # membership join and the expression references its
                # boolean marker column; only contexts with no table to
                # join against (print, toscalar-like scalar positions)
                # keep a driver materialization, at Kusto's own 1M cap.
                sub = self.pipeline(node.values[0])
                first = sub.columns[0]
                # the LITERAL path (the common case) probes the
                # distinct set with one bounded limit collect and never
                # materializes it; only when the probe overflows does
                # the join path eagerly checkpoint the full set — so a
                # pathological subquery no longer pays a full pass and
                # executor storage just to raise or fold to a literal
                # (ADVICE r11; refines the r10 single-materialization
                # fix, which over-corrected by checkpointing ALWAYS).
                distinct_vals = sub.select(first).distinct()
                probe = distinct_vals.limit(self._IN_LITERAL_MAX + 1).collect()
                if len(probe) <= self._IN_LITERAL_MAX:
                    vals = [r[0] for r in probe if r[0] is not None]
                    if node.case_insensitive:
                        res = F.lower(col).isin([str(v).lower() for v in vals])
                    else:
                        res = col.isin(vals)
                    return ~res if node.negated else res
                if self._in_join_ok:
                    # join path: NOW materialize the distinct set once
                    # — the broadcast-size probe in _in_join_side and
                    # the membership join would otherwise each re-run
                    # the subquery pipeline
                    vals_raw = distinct_vals.localCheckpoint(eager=True)
                    marker = f"__in_m{len(self._pending_in_joins)}"
                    vals_col = (
                        F.lower(F.col(first)) if node.case_insensitive
                        else F.col(first)
                    )
                    self._pending_in_joins.append(
                        {
                            "marker": marker,
                            # built on the checkpointed distinct set;
                            # lower-then-distinct, so a ci match can't
                            # fan out over case variants of one value
                            "vals": vals_raw.select(
                                vals_col.alias("__in_val")
                            ).distinct(),
                            "col": col,
                            "negated": node.negated,
                            "ci": node.case_insensitive,
                        }
                    )
                    return F.col(marker)
                # scalar context (print/toscalar): bounded collect that
                # can STOP EARLY at the cap — no checkpoint, no full
                # materialization of a >1M pathological set
                cap = 1_000_000
                rows = distinct_vals.limit(cap + 1).collect()
                if len(rows) > cap:
                    raise KqlSyntaxError(
                        "in() subquery exceeds 1,000,000 distinct values"
                    )
                vals = [r[0] for r in rows if r[0] is not None]
                if node.case_insensitive:
                    res = F.lower(col).isin([str(v).lower() for v in vals])
                else:
                    res = col.isin(vals)
                return ~res if node.negated else res
            vals = []
            for v in node.values:
                ev = self.expr(v)
                if isinstance(ev, list):
                    # a dynamic([...]) value (literal or let-bound)
                    # splices its elements: `x in (allowed)` where
                    # allowed is a dynamic list
                    vals.extend(ev)
                else:
                    vals.append(ev)
            if node.case_insensitive:
                res = F.lower(col).isin([str(v).lower() for v in vals])
            else:
                res = col.isin(vals)
            return ~res if node.negated else res
        if isinstance(node, P.Between):
            col = _c(self.expr(node.expr))
            lo, hi = self.expr(node.low), self.expr(node.high)
            if isinstance(hi, _Span) and not isinstance(lo, _Span):
                # Kusto range form (start .. duration): upper bound is
                # start + duration
                lo_c = _c(lo)
                return col.between(lo_c, lo_c + _interval(hi.seconds))
            return col.between(_c(lo), _c(hi))
        if isinstance(node, P.Call):
            return self.call(node, agg=agg)
        raise KqlSyntaxError(f"cannot translate {node!r}")

    _ARRAY_FUNCS = {
        "pack_array", "array_concat", "array_slice", "array_sort_asc",
        "array_sort_desc", "array_reverse", "array_rotate_left",
        "array_rotate_right", "array_shift_left", "array_shift_right",
        "set_union", "set_intersect", "set_difference", "zip", "repeat",
        "array_split", "base64_decode_toarray", "bag_keys",
        "unicode_codepoints_from_string", "parse_csv",
        "ipv4_range_to_cidr_list", "series_add", "series_subtract",
        "series_multiply", "series_divide", "series_pow", "series_abs",
        "series_sign", "series_exp", "series_log", "series_sin",
        "series_cos", "series_tan", "series_floor", "series_ceiling",
        "series_greater", "series_greater_equals", "series_less",
        "series_less_equals", "series_equals", "series_not_equals",
        "series_fir", "series_outliers", "series_seasonal", "series_iir",
        "series_fill_forward", "series_fill_backward",
        "series_fill_const", "series_fill_linear",
        "series_decompose_forecast", "array_iff", "array_iif",
        "parse_command_line",
    }

    def _is_array_expr(self, node) -> bool:
        """Static shape check: does this AST node produce a real ARRAY
        column (→ index with element_at) rather than a JSON-string
        dynamic (→ index via JSON path)?"""
        from pyspark.sql import types as T

        if isinstance(node, P.DynamicLit):
            return True
        if isinstance(node, P.Call):
            low = node.func.lower()
            if low == "split" and len(node.args) < 3:
                return True
            if low == "pack_array":
                # heterogeneous literal pack_array compiles to a
                # JSON-string dynamic, not a native array
                vals = [n.value for n in node.args if isinstance(n, P.Lit)]
                if len(vals) == len(node.args):
                    kinds = {
                        (
                            bool
                            if isinstance(v, bool)
                            else float
                            if isinstance(v, (int, float))
                            else type(v)
                        )
                        for v in vals
                        if v is not None
                    }
                    if len(kinds) > 1:
                        return False
            return low in self._ARRAY_FUNCS
        if isinstance(node, P.Ident) and self._cur_schema is not None:
            f = {x.name: x.dataType for x in self._cur_schema.fields}.get(
                node.name
            )
            return isinstance(f, T.ArrayType)
        if isinstance(node, P.Member) and self._cur_schema is not None:
            # struct-member chains that resolve to an ARRAY field
            # (e.g. series_decompose output: d.seasonal[1])
            chain = [node.name]
            b = node.base
            while isinstance(b, P.Member):
                chain.append(b.name)
                b = b.base
            if isinstance(b, P.Ident):
                chain.append(b.name)
                chain.reverse()
                dt = {x.name: x.dataType for x in self._cur_schema.fields}.get(
                    chain[0]
                )
                for nm in chain[1:]:
                    if isinstance(dt, T.StructType) and nm in dt.fieldNames():
                        dt = dt[nm].dataType
                    else:
                        return False
                return isinstance(dt, T.ArrayType)
            return False
        if isinstance(node, P.Index):
            # arr-of-arr: indexing an array literal of array literals
            if isinstance(node.base, P.DynamicLit):
                return all(
                    isinstance(i, P.DynamicLit) for i in node.base.items
                )
            if isinstance(node.base, P.Ident) and self._cur_schema is not None:
                from pyspark.sql import types as T2

                f = {
                    x.name: x.dataType for x in self._cur_schema.fields
                }.get(node.base.name)
                return isinstance(f, T2.ArrayType) and isinstance(
                    f.elementType, T2.ArrayType
                )
        return False

    _STRING_FUNCS = {
        "strcat", "tostring", "substring", "toupper", "tolower", "trim",
        "trim_start", "trim_end", "replace_string", "replace_regex",
        "extract", "strcat_delim", "strrep", "reverse", "base64_encode_tostring",
        "base64_decode_tostring", "url_encode", "url_decode", "format_datetime",
        "format_timespan", "format_bytes", "parse_url",
    }

    def _is_string_expr(self, node) -> bool:
        """Static check: does this AST node produce a string? Used by
        `+` to pick Kusto concat semantics when NEITHER operand is a
        string literal (strColA + strColB)."""
        from pyspark.sql import types as T

        if isinstance(node, P.Lit):
            return isinstance(node.value, str)
        if isinstance(node, P.Call):
            low = node.func.lower()
            if low == "extract" and len(node.args) == 4:
                ty = node.args[3]
                return (
                    isinstance(ty, P.Call)
                    and len(ty.args) == 1
                    and isinstance(ty.args[0], P.Ident)
                    and ty.args[0].name.lower() == "string"
                )
            return low in self._STRING_FUNCS
        if isinstance(node, P.Ident) and self._cur_schema is not None:
            f = {x.name: x.dataType for x in self._cur_schema.fields}.get(
                node.name
            )
            return isinstance(f, T.StringType)
        if isinstance(node, P.Binary) and node.op == "+":
            return self._is_string_expr(node.left) or self._is_string_expr(
                node.right
            )
        return False

    def binary(self, node: P.Binary, agg: bool) -> Column:
        op = node.op
        if op in ("has_any_sub", "has_all_sub"):
            # has_any/has_all with a TABLE subquery: bounded collect of
            # the first column (Kusto's own 256-value has_any limit),
            # then the same or/and chain of term matches the literal
            # form desugars to
            sub = self.pipeline(node.right)
            first = sub.columns[0]
            rows = sub.select(first).distinct().limit(257).collect()
            if len(rows) > 256:
                raise KqlSyntaxError(
                    "has_any/has_all subquery exceeds 256 values (Kusto limit)"
                )
            vals = [r[0] for r in rows if r[0] is not None]
            lcol = _c(self.expr(node.left, agg=agg))
            if not vals:
                return F.lit(False)
            preds = [
                S.has_term(lcol, str(v), case_insensitive=True) for v in vals
            ]
            out = preds[0]
            for p in preds[1:]:
                out = (out | p) if op == "has_any_sub" else (out & p)
            return out
        _WILDCARD_OPS = {
            "has", "has_cs", "contains", "contains_cs",
            "hasprefix", "hasprefix_cs", "hassuffix", "hassuffix_cs",
            "startswith", "startswith_cs", "endswith", "endswith_cs",
        }
        if (
            isinstance(node.left, P.Ident)
            and node.left.name == "*"
            and self._cur_schema is not None
        ):
            # Kusto `* has 'term'`: the predicate over EVERY string
            # column (the search operator's predicate form — r14;
            # widened to the full string-op family incl. negated/_cs
            # forms in r15, ADVICE r14). Negated forms are true when
            # NO column matches. Any other `*` predicate is a clear
            # syntax error instead of a confusing unresolved-column one.
            from pyspark.sql import types as T

            base_op = op.lstrip("!")
            if base_op not in _WILDCARD_OPS:
                raise KqlSyntaxError(
                    f"`* {op}` is not a supported wildcard predicate "
                    f"(string operators only: {sorted(_WILDCARD_OPS)})"
                )
            term = str(_raw(self.expr(node.right, agg=agg)))
            cols = [
                f.name
                for f in self._cur_schema.fields
                if isinstance(f.dataType, T.StringType)
            ]
            if not cols:
                return F.lit(op.startswith("!"))

            def _one(c):
                col = F.col(c)
                if base_op in ("has", "has_cs"):
                    return S.has_term(
                        col, term, case_insensitive=(base_op == "has")
                    )
                if base_op == "contains":
                    return F.lower(col).contains(term.lower())
                if base_op == "contains_cs":
                    return col.contains(term)
                if base_op == "startswith":
                    return S.startswith(col, term)
                if base_op == "startswith_cs":
                    return col.startswith(term)
                if base_op == "endswith":
                    return S.endswith(col, term)
                if base_op == "endswith_cs":
                    return col.endswith(term)
                # hasprefix/hassuffix: term-boundary prefix/suffix,
                # same regexes as the single-column dispatch below
                import re as _re2

                q = _re2.escape(term)
                flags = "" if base_op.endswith("_cs") else "(?i)"
                if base_op.startswith("hasprefix"):
                    return col.rlike(flags + r"(^|[^\w])" + q)
                return col.rlike(flags + q + r"($|[^\w])")

            pred = _one(cols[0])
            for c in cols[1:]:
                pred = pred | _one(c)
            pred = F.coalesce(pred, F.lit(False))
            return ~pred if op.startswith("!") else pred
        le = self.expr(node.left, agg=agg)
        re = self.expr(node.right, agg=agg)
        # timespan literal arithmetic stays python-side (_Span ops) so
        # 2h + 30m, 2 * 1h, span/span ratios resolve before columns
        if isinstance(le, _Span) or isinstance(re, _Span):
            py_ops = {
                "+": lambda a, b: a + b,
                "-": lambda a, b: a - b,
                "*": lambda a, b: a * b,
                "/": lambda a, b: a / b,
            }
            both_py = isinstance(le, (_Span, int, float)) and isinstance(
                re, (_Span, int, float)
            )
            if op in py_ops and both_py:
                try:
                    out = py_ops[op](le, re)
                    if out is not NotImplemented:
                        return out
                except TypeError:
                    pass
            if op in ("==", "!=", "<", "<=", ">", ">=") and isinstance(
                le, _Span
            ) and isinstance(re, _Span):
                import operator as _opmod

                cmp = {
                    "==": _opmod.eq, "!=": _opmod.ne, "<": _opmod.lt,
                    "<=": _opmod.le, ">": _opmod.gt, ">=": _opmod.ge,
                }[op]
                return F.lit(cmp(le.seconds, re.seconds))
        if op in ("==", "!=", "<", "<=", ">", ">="):
            # dayofweek() surfaces the INT day count (documented delta,
            # functions/scalar.py:135) — comparisons against Kusto
            # timespan literals (`dayofweek(x) == 0d`, the documented
            # Kusto form) coerce the literal to its day count so the
            # Kusto-exact spelling works unchanged (r15, closing the
            # r14 probe-backlog gap).
            def _is_dow(n) -> bool:
                return isinstance(n, P.Call) and n.func.lower() == "dayofweek"

            if isinstance(re, _Span) and _is_dow(node.left):
                re = re.seconds / 86400.0
            elif isinstance(le, _Span) and _is_dow(node.right):
                le = le.seconds / 86400.0
        l, r = _c(le), _c(re)
        if op == "and":
            return l & r
        if op == "or":
            return l | r
        if op == "==":
            return l == r
        if op == "!=":
            return l != r
        if op == "<":
            return l < r
        if op == "<=":
            return l <= r
        if op == ">":
            return l > r
        if op == ">=":
            return l >= r
        if op == "=~":  # case-insensitive equality
            return F.lower(l) == F.lower(r)
        if op == "!~":
            return F.lower(l) != F.lower(r)
        if op == "+":
            if isinstance(re, _Span):
                return l + _interval(re.seconds)
            if (
                isinstance(le, str)
                or isinstance(re, str)
                or self._is_string_expr(node.left)
                or self._is_string_expr(node.right)
            ):
                # Kusto + concatenates whenever an operand is string-
                # typed — literal OR a string column/expression (the
                # schema check covers strColA + strColB, which numeric
                # addition would null out)
                return F.concat(l.cast("string"), r.cast("string"))
            return l + r
        if op == "-":
            if isinstance(re, _Span):
                return l - _interval(re.seconds)
            return l - r
        if op == "*":
            return l * r
        if op == "/":
            # Kusto `/` is ALWAYS real division (long/long yields real)
            # with IEEE zero semantics: x/0 → ±inf, 0/0 → NaN — Spark's
            # ANSI mode raises DIVIDE_BY_ZERO instead, so the zero
            # branch is made explicit. (IEEE -0.0 divisor sign is not
            # distinguished — documented micro-delta.)
            ld, rd = l.cast("double"), r.cast("double")
            return (
                F.when(ld.isNull() | rd.isNull(), F.lit(None).cast("double"))
                .when(rd != 0.0, ld / rd)
                .when(ld > 0, F.lit(float("inf")))
                .when(ld < 0, F.lit(float("-inf")))
                .otherwise(F.lit(float("nan")))
            )
        if op == "%":
            # zero divisor: null (ANSI would raise; Kusto modulo of a
            # zero divisor has no defined finite result)
            return F.when(_c(r).cast("double") != 0.0, l % r)
        if op in ("has", "has_cs"):
            # Kusto string operators coerce a dynamic operand to its
            # JSON text; array-shaped left sides render via to_json
            if self._is_array_expr(node.left):
                l = F.to_json(l)
            return S.has_term(l, str(_raw(re)), case_insensitive=(op == "has"))
        if op in ("contains", "contains_cs"):
            if self._is_array_expr(node.left):
                l = F.to_json(l)
            if op == "contains":
                return F.lower(l).contains(str(_raw(re)).lower())
            return l.contains(str(_raw(re)))
        if op in ("startswith", "startswith_cs"):
            if op == "startswith":
                return S.startswith(l, str(_raw(re)))
            return l.startswith(str(_raw(re)))
        if op in ("endswith", "endswith_cs"):
            if op == "endswith":
                return S.endswith(l, str(_raw(re)))
            return l.endswith(str(_raw(re)))
        if op in ("hasprefix", "hassuffix", "hasprefix_cs", "hassuffix_cs"):
            # term-boundary prefix/suffix match (Kusto: some TERM in the
            # text starts/ends with the value); default case-insensitive
            import re as _re2

            q = _re2.escape(str(_raw(re)))
            flags = "" if op.endswith("_cs") else "(?i)"
            if op.startswith("hasprefix"):
                return l.rlike(flags + r"(^|[^\w])" + q)
            return l.rlike(flags + q + r"($|[^\w])")
        if op == "matches":
            return S.matches_regex(l, str(_raw(re)))
        raise KqlSyntaxError(f"unsupported operator {op!r}")

    _WINDOW_FUNCS = {
        "row_number", "prev", "next", "row_cumsum", "row_rank_min", "row_rank_dense",
    }

    def _is_datetime_node(self, n) -> bool:
        """Static datetime-ness of an AST node (for the timespan
        string-rendering special case — r14). Conservative: only forms
        whose type is certain."""
        from pyspark.sql import types as T

        if isinstance(n, P.DateTimeLit):
            return True
        if isinstance(n, P.Call) and n.func.lower() in (
            "todatetime", "now", "make_datetime", "datetime_add",
            "startofday", "startofweek", "startofmonth", "startofyear",
            "endofday", "endofweek", "endofmonth", "endofyear",
        ):
            return True
        if isinstance(n, P.Ident) and self._cur_schema is not None:
            f = {x.name: x.dataType for x in self._cur_schema.fields}.get(
                n.name
            )
            return isinstance(f, (T.TimestampType, T.TimestampNTZType))
        return False

    def _is_timespan_node(self, n) -> bool:
        """Static timespan-ness: a timespan literal, datetime-datetime,
        timespan±timespan, or a column the current schema types as a
        day-time interval. Literal classification (r15, ADVICE r14)
        lets mixed forms like tostring(interval_col + 1h) reach the
        Kusto [d.]hh:mm:ss renderer."""
        from pyspark.sql import types as T

        if isinstance(n, P.Timespan):
            return True
        if isinstance(n, P.Binary):
            if (
                n.op == "-"
                and self._is_datetime_node(n.left)
                and self._is_datetime_node(n.right)
            ):
                return True
            if n.op in ("+", "-") and (
                self._is_timespan_node(n.left)
                and self._is_timespan_node(n.right)
            ):
                return True
        if isinstance(n, P.Call):
            fn = n.func.lower()
            # totimespan()/time() construct timespans from any arg
            # (r16 — column args produce the seconds-double repr, see
            # _timespan_seconds_repr); sum/avg/min/max/take_any of a
            # timespan stay timespans
            if fn in ("totimespan", "time") and n.args:
                return True
            if fn in ("sum", "avg", "min", "max", "take_any") and n.args:
                return self._is_timespan_node(n.args[0])
        if isinstance(n, P.Ident) and self._cur_schema is not None:
            f = {x.name: x.dataType for x in self._cur_schema.fields}.get(
                n.name
            )
            return isinstance(f, T.DayTimeIntervalType)
        return False

    def _timespan_seconds_repr(self, n) -> bool:
        """True when a timespan-classified node's RUNTIME value is the
        seconds-double representation rather than a day-time interval:
        totimespan('01:30:00')/time(col) over column args return
        seconds (scalar.totimespan_str), and aggregates of such nodes
        inherit it. Interval columns, datetime subtraction, and
        aggregates over interval columns stay intervals."""
        if isinstance(n, P.Call):
            fn = n.func.lower()
            if fn in ("totimespan", "time"):
                return True
            if fn in ("sum", "avg", "min", "max", "take_any") and n.args:
                return self._timespan_seconds_repr(n.args[0])
        if isinstance(n, P.Binary):
            return self._timespan_seconds_repr(
                n.left
            ) or self._timespan_seconds_repr(n.right)
        return False

    def _timespan_render(self, n, v) -> Column:
        """Kusto [d.]hh:mm:ss render of a timespan-classified expr —
        _Span literals use the exact python formatter, seconds-double
        reprs convert through INTERVAL multiply, intervals render
        directly."""
        if isinstance(v, _Span):
            return F.lit(_span_str(v))
        if self._timespan_seconds_repr(n):
            return S.timespan_to_string(F.expr("INTERVAL 1 SECOND") * _c(v))
        return S.timespan_to_string(_c(v))

    def call(self, node: P.Call, agg: bool) -> Column:
        # builtins dispatch case-insensitively (lowered); let-bound
        # lambda names stay case-sensitive (KQL identifier semantics)
        name = node.func.lower()
        if name in self._WINDOW_FUNCS:
            return self._window_call(node)
        if name == "tostring" and len(node.args) == 1 and self._is_timespan_node(
            node.args[0]
        ):
            # timespan-typed values render Kusto-style [d.]hh:mm:ss
            # (r14) — Spark's native interval cast says
            # "INTERVAL '…' DAY TO SECOND". Values that resolve to a
            # translate-time _Span keep the exact python formatter
            # (full 100-ns ticks + carry; the COLUMN renderer anchors
            # at the epoch and truncates to microseconds — r15). r16:
            # totimespan()/time() column results (seconds-double repr)
            # and timespan aggregates render the same way.
            v = self.expr(node.args[0], agg=agg)
            return self._timespan_render(node.args[0], v)
        if name == "tostring" and len(node.args) == 1 and self._is_array_expr(
            node.args[0]
        ):
            # Kusto tostring of a dynamic renders canonical JSON
            # ("[\\"a\\",\\"\\",\\"b\\"]") — Spark's string cast of a real
            # ARRAY column says "[a, , b]" (r15 semantic batch). The
            # JSON-string dynamics already hold canonical text.
            return F.to_json(_c(self.expr(node.args[0], agg=agg)))
        if name == "strcat" and any(
            self._is_timespan_node(x) for x in node.args
        ):
            parts = []
            for x in node.args:
                v = self.expr(x, agg=agg)
                if isinstance(v, _Span):
                    parts.append(_span_str(v))
                elif self._is_timespan_node(x):
                    parts.append(self._timespan_render(x, v))
                else:
                    parts.append(_span_str(v))
            return S.strcat(*parts)
        if name == "real" and len(node.args) == 1:
            # Kusto special real literals — real(nan), real(inf),
            # real(+inf), real(-inf) (r14; `inf`/`nan` would otherwise
            # resolve as column names). Unary + folds away in the
            # parser; look through unary - here.
            a0 = node.args[0]
            neg = False
            while isinstance(a0, P.Unary) and a0.op == "-":
                neg = not neg
                a0 = a0.operand
            if isinstance(a0, P.Ident) and a0.name.lower() in ("nan", "inf"):
                if a0.name.lower() == "nan":
                    return F.lit(float("nan"))
                return F.lit(float("-inf") if neg else float("inf"))
        if name == "gettype":
            # static type name from the schema (KQL names); columns are
            # statically typed here, so this is exact for column args
            if (
                len(node.args) == 1
                and isinstance(node.args[0], P.Ident)
                and self._cur_schema is not None
            ):
                from meerkat_spark.types import spark_to_kql

                cname = node.args[0].name
                fields = {f.name: f.dataType for f in self._cur_schema.fields}
                if cname in fields:
                    return F.lit(spark_to_kql(fields[cname]))
            # literal/expression forms resolve statically too (r15 —
            # Kusto gettype works on ANY expression): timespan/datetime
            # literals, dynamic([...])/{...}, strings, bools, numbers
            if len(node.args) == 1:
                a0 = node.args[0]
                if isinstance(a0, P.Timespan):
                    return F.lit("timespan")
                if isinstance(a0, P.DateTimeLit):
                    return F.lit("datetime")
                if isinstance(a0, P.DynamicLit):
                    return F.lit("array")
                if isinstance(a0, P.Lit):
                    v = a0.value
                    if isinstance(v, bool):
                        return F.lit("bool")
                    if isinstance(v, str):
                        return F.lit("string")
                    if v is None:
                        return F.lit("null")
                    return F.lit(
                        "long"
                        if isinstance(v, int) or float(v).is_integer()
                        else "real"
                    )
                v = self.expr(a0, agg=agg)
                if isinstance(v, _Span):
                    return F.lit("timespan")
                if isinstance(v, Column):
                    # analyzed-type fallback: resolve the expression
                    # against an EMPTY frame with the current schema
                    # (plan-only — no job) and map the Spark type to
                    # its KQL name
                    from meerkat_spark.types import spark_to_kql as _s2k

                    try:
                        base = (
                            self.engine.spark.createDataFrame(
                                [], self._cur_schema
                            )
                            if self._cur_schema is not None
                            else self.engine.spark.range(1)
                        )
                        df = base.select(_c(v).alias("x"))
                        return F.lit(_s2k(df.schema[0].dataType))
                    except Exception:  # noqa: BLE001 — fall through
                        pass
            raise KqlSyntaxError("gettype() expects a single column name")
        if name == "percentile_tdigest" and len(node.args) == 3:
            # percentile_tdigest(td, p, typeof(T)) — Kusto's typed form;
            # the sketch stores doubles, so the typeof is a result cast
            ty_node = node.args[2]
            if not (
                isinstance(ty_node, P.Call) and ty_node.func.lower() == "typeof"
                and len(ty_node.args) == 1 and isinstance(ty_node.args[0], P.Ident)
            ):
                raise KqlSyntaxError(
                    "percentile_tdigest 3rd argument must be typeof(type)"
                )
            from meerkat_spark.types import kql_to_spark

            base = _TD.percentile_tdigest_col(
                _c(self.expr(node.args[0])),
                float(_raw(self.expr(node.args[1]))),
            )
            return base.try_cast(kql_to_spark(ty_node.args[0].name.lower()))
        if name == "extract" and len(node.args) == 4:
            # extract(regex, group, text, typeof(T)) — typed capture
            ty_node = node.args[3]
            if not (
                isinstance(ty_node, P.Call) and ty_node.func.lower() == "typeof"
                and len(ty_node.args) == 1 and isinstance(ty_node.args[0], P.Ident)
            ):
                raise KqlSyntaxError("extract 4th argument must be typeof(type)")
            from meerkat_spark.types import kql_to_spark

            base = S.extract(
                str(_raw(self.expr(node.args[0]))),
                int(_raw(self.expr(node.args[1]))),
                _c(self.expr(node.args[2])),
            )
            return base.try_cast(kql_to_spark(ty_node.args[0].name.lower()))
        if name in ("extractjson", "extract_json") and len(node.args) == 3:
            # extractjson(path, text, typeof(T)) — typed JSON capture
            ty_node = node.args[2]
            if not (
                isinstance(ty_node, P.Call) and ty_node.func.lower() == "typeof"
                and len(ty_node.args) == 1 and isinstance(ty_node.args[0], P.Ident)
            ):
                raise KqlSyntaxError("extractjson 3rd argument must be typeof(type)")
            from meerkat_spark.types import kql_to_spark

            base = S.extract_json(
                str(_raw(self.expr(node.args[0]))), _c(self.expr(node.args[1]))
            )
            return base.try_cast(kql_to_spark(ty_node.args[0].name.lower()))
        if (
            name in ("bin", "floor", "bin_at")
            and len(node.args) in (2, 3)
            and self._is_timespan_node(node.args[0])
        ):
            # bin/floor/bin_at on TIMESPAN values → a timespan floored
            # to a multiple of the step, optionally anchored (r16 —
            # probe batch 16; the generic paths assumed datetime and
            # raised on DayTimeInterval / leaked _Span into Column
            # contexts). Literal-span x folds to a _Span.
            import math as _math

            x = self.expr(node.args[0], agg=agg)
            size = self.expr(node.args[1], agg=agg)
            step = size.seconds if isinstance(size, _Span) else float(_raw(size))
            anchor = 0.0
            if name == "bin_at":
                if len(node.args) != 3:
                    raise KqlSyntaxError("bin_at takes 3 arguments")
                av = self.expr(node.args[2], agg=agg)
                if isinstance(av, _Span):
                    anchor = av.seconds
                elif isinstance(av, (int, float)):
                    anchor = float(av)
                else:
                    raise KqlSyntaxError(
                        "bin_at on timespans needs a literal timespan anchor"
                    )
            if isinstance(x, _Span):
                return _Span(
                    anchor + _math.floor((x.seconds - anchor) / step) * step
                )
            # epoch-anchor idiom (scalar.timespan_to_string): intervals
            # don't cast to numerics directly, and bigint casts depend
            # on the interval's end field
            epoch = F.timestamp_micros(F.lit(0))
            secs = F.unix_micros(epoch + _c(x)) / F.lit(1_000_000.0)
            binned = (
                F.floor((secs - F.lit(anchor)) / F.lit(step)) * F.lit(step)
                + F.lit(anchor)
            )
            binned_us = (binned * F.lit(1_000_000)).cast("long")
            return F.timestamp_micros(binned_us) - epoch
        if name == "bin_auto":
            # Kusto sizes bin_auto from the query_bin_auto_size query
            # property; here that property is a let-bound scalar of the
            # same name (number or timespan), default 1.0
            size = self.lets.get("query_bin_auto_size", 1.0)
            if hasattr(size, "__dataclass_fields__"):  # stored AST node
                size = self.expr(size)
            if not isinstance(size, (int, float, _Span)):
                raise KqlSyntaxError(
                    "query_bin_auto_size must be a numeric or timespan literal"
                )
            arg = self.expr(node.args[0], agg=False)
            return _fn_bin([arg, size])
        if name == "toscalar":
            # scalar subquery: first column of the first row, evaluated
            # once driver-side (bounded: limit(1) collect — the Kusto
            # contract expects a 1-row pipeline, e.g. summarize)
            arg = node.args[0]
            if isinstance(arg, P.Pipeline):
                df = self.pipeline(arg)
                rows = df.limit(1).collect()
                if not rows or len(rows[0]) == 0:
                    return F.lit(None)
                return F.lit(rows[0][0])
            return _c(self.expr(arg, agg=agg))
        if name == "pack_all":
            # property bag of the whole row (current schema)
            if self._cur_schema is None:
                raise KqlSyntaxError("pack_all() needs a table context")
            return F.to_json(
                F.struct(*[F.col(f.name) for f in self._cur_schema.fields])
            )
        if name == "column_ifexists":
            # schema-resolved: the column when it exists, else the
            # default expression (Kusto's optional-column idiom)
            if len(node.args) != 2 or not isinstance(
                node.args[0], (P.Ident, P.Lit)
            ):
                raise KqlSyntaxError(
                    "column_ifexists(column, default) expects a column name"
                )
            arg0 = node.args[0]
            cname = arg0.name if isinstance(arg0, P.Ident) else str(arg0.value)
            have = (
                {f.name for f in self._cur_schema.fields}
                if self._cur_schema is not None
                else set()
            )
            if cname in have:
                return F.col(cname)
            return _c(self.expr(node.args[1], agg=agg))
        # let-bound lambda: substitute args into the body (KQL `invoke`
        # semantics for scalar functions — pure front-end inlining)
        lam = self.lets.get(node.func)
        if isinstance(lam, P.Lambda):
            # omitted trailing args fall back to declared defaults
            # (Kusto `(x:long, y:long = 10)` — r14)
            call_args = list(node.args)
            for p in lam.params[len(call_args):]:
                if p in lam.defaults:
                    call_args.append(lam.defaults[p])
            if len(call_args) != len(lam.params):
                raise KqlSyntaxError(
                    f"{name}() expects {len(lam.params)} args, got {len(node.args)}"
                )
            # EAGERLY evaluate args, then bind the VALUES — binding raw
            # AST nodes into the shared namespace self-captures when an
            # argument mentions a name equal to a parameter
            arg_vals = [self.expr(a, agg=agg) for a in call_args]
            sentinel = object()
            saved = {p: self.lets.get(p, sentinel) for p in lam.params}
            try:
                for p, val in zip(lam.params, arg_vals):
                    self.lets[p] = val
                return _c(self.expr(lam.body, agg=agg))
            finally:
                for p, v in saved.items():
                    if v is sentinel:
                        self.lets.pop(p, None)
                    else:
                        self.lets[p] = v
        args = [self.expr(a, agg=False) for a in node.args]
        if agg and name in _AGGS:
            # predicate args arrive as Columns already; scalar args may be py values
            return _AGGS[name]([_colify_pred(a) for a in args])
        if name in _SCALARS:
            return _SCALARS[name](args)
        if name in _AGGS:
            return _AGGS[name]([_colify_pred(a) for a in args])
        raise KqlSyntaxError(f"unknown function {name!r}")

    def _window_call(self, node: P.Call) -> Column:
        """KQL serialized-table window functions (SURVEY.md §2.2.4).

        The window is the serialize order with NO partition — exactly
        KQL's semantics (a serialized table is one ordered stream).
        Scale caveat: a global window is a single-task sort; users
        partition with `partition by`/summarize shapes for parallel
        variants (the windows.py suite queries show the per-key forms).
        """
        from pyspark.sql import Window as W

        if not self.serialize_order:
            raise KqlSyntaxError(
                f"{node.func}() requires a serialized table — add `| serialize` "
                "or `| sort by …` first"
            )
        if self._partition_cols:
            w = W.partitionBy(*self._partition_cols).orderBy(
                *self.serialize_order
            )
        else:
            w = W.orderBy(*self.serialize_order)
        name = node.func.lower()
        g = self._guard_serialized
        if name == "row_number":
            start = int(_raw(self.expr(node.args[0]))) if node.args else 1
            rn = F.row_number().over(w)
            return g(rn + F.lit(start - 1), name)
        if name == "prev":
            col = _c(self.expr(node.args[0]))
            off = int(_raw(self.expr(node.args[1]))) if len(node.args) > 1 else 1
            dflt = _raw(self.expr(node.args[2])) if len(node.args) > 2 else None
            return g(F.lag(col, off, dflt).over(w), name)
        if name == "next":
            col = _c(self.expr(node.args[0]))
            off = int(_raw(self.expr(node.args[1]))) if len(node.args) > 1 else 1
            dflt = _raw(self.expr(node.args[2])) if len(node.args) > 2 else None
            return g(F.lead(col, off, dflt).over(w), name)
        if name == "row_cumsum":
            if len(node.args) > 1:
                raise KqlSyntaxError(
                    "row_cumsum with a restart term is only supported as a "
                    "direct `extend name = row_cumsum(x, restart)` column"
                )
            col = _c(self.expr(node.args[0]))
            return g(
                F.sum(col).over(
                    w.rowsBetween(W.unboundedPreceding, W.currentRow)
                ),
                name,
            )
        if name == "row_rank_min":
            return g(F.rank().over(w), name)
        if name == "row_rank_dense":
            return g(F.dense_rank().over(w), name)
        raise KqlSyntaxError(f"unsupported window function {name!r}")

    def _ser_window_by(self, *extra):
        """Window spec for the serialize context: keyed by the
        enclosing `partition by` columns (if any) plus `extra` segment
        columns, ordered by the frozen serialize order."""
        from pyspark.sql import Window as W

        keys = list(self._partition_cols or []) + [
            F.col(c) if isinstance(c, str) else c for c in extra
        ]
        if keys:
            return W.partitionBy(*keys).orderBy(*self.serialize_order)
        return W.orderBy(*self.serialize_order)

    def _guard_serialized(self, col: Column, name: str) -> Column:
        """Partition-less serialized window = ONE global sort task —
        the same at-scale hazard scan_steps guards (operators/
        scan.py:155): faithful to KQL (`serialize` is one ordered
        stream), but a silent bottleneck at 100×. Warn at compile
        time; raise at runtime past the row threshold. The row_number
        probe rides the SAME window spec, so Catalyst computes it in
        the one pass the window already costs — no extra shuffle."""
        import warnings

        from pyspark.sql import Window as W

        if self._partition_cols:
            # partition-by scope: the window is keyed — no hazard
            return col
        warnings.warn(
            f"{name}() compiles a GLOBAL Window.orderBy (serialized "
            "table, no partition key): a single-task sort at scale. "
            "Use `partition by` for the parallel form; rows beyond "
            f"{MAX_SERIALIZED_WINDOW_ROWS:,} raise at runtime "
            "(MEERKAT_MAX_SERIALIZED_WINDOW_ROWS overrides).",
            stacklevel=4,
        )
        probe = F.row_number().over(W.orderBy(*self.serialize_order))
        ok = F.assert_true(
            probe <= F.lit(MAX_SERIALIZED_WINDOW_ROWS),
            F.lit(
                f"{name}(): serialized window over more than "
                f"{MAX_SERIALIZED_WINDOW_ROWS:,} rows with no partition "
                "key — wrap in `partition by` or raise "
                "MEERKAT_MAX_SERIALIZED_WINDOW_ROWS"
            ),
        )
        return F.when(ok.isNull(), col)

    # ---------------------------------------------------------- pipeline
    def table(self, name: str) -> MeerkatTable:
        if name in self.let_tables:
            return MeerkatTable(self.let_tables[name])
        if name in self.lets and isinstance(self.lets[name], P.Pipeline):
            df = self.pipeline(self.lets[name])
            self.let_tables[name] = df
            return MeerkatTable(df)
        if (
            name in self.lets
            and isinstance(self.lets[name], P.OpNode)
            and self.lets[name].name == "materialize"
        ):
            # KQL materialize(): persist the subquery so every pipeline
            # reference reuses one computed (cached) result instead of
            # re-running the lineage — Spark's persist() is the exact
            # engine analogue.
            df = self.pipeline(self.lets[name].args["pipeline"]).persist()
            self.persisted.append(df)
            self.let_tables[name] = df
            return MeerkatTable(df)
        return self.engine.table(name)

    def pipeline(self, pipe: P.Pipeline) -> DataFrame:
        t = self.source(pipe.source)
        for op in pipe.ops:
            t = self.apply(t, op)
        df = t.to_df()
        if "__serial" in df.columns:  # internal serialize row id
            df = df.drop("__serial")
        return df

    def source(self, node: P.OpNode) -> MeerkatTable:
        if node.name == "table":
            return self.table(node.args["name"])
        if node.name == "range":
            lo = self.expr(node.args["from"])
            hi = self.expr(node.args["to"])
            step = self.expr(node.args["step"])
            var = node.args["var"]
            if isinstance(step, _Span):
                # datetime axis: sequence + explode (inclusive ends)
                df = self.engine.spark.range(1).select(
                    F.explode(
                        F.sequence(
                            _c(lo), _c(hi),
                            F.expr(f"INTERVAL {int(step.seconds)} SECOND"),
                        )
                    ).alias(var)
                )
                return MeerkatTable(df)
            lo_i, hi_i, st_i = int(_raw(lo)), int(_raw(hi)), int(_raw(step))
            if st_i == 0:
                raise KqlSyntaxError("range: step must be non-zero")
            # inclusive BOTH ends in Kusto; spark.range excludes the
            # end, so nudge it one unit PAST the bound in step
            # direction (r16 — negative steps dropped the final value)
            end = hi_i + (1 if st_i > 0 else -1)
            df = self.engine.spark.range(lo_i, end, st_i).select(
                F.col("id").alias(var)
            )
            return MeerkatTable(df)
        if node.name == "print":
            cols = [
                _c(self.expr(e)).alias(name or f"print_{i}")
                for i, (name, e) in enumerate(node.args["cols"])
            ]
            return MeerkatTable(self.engine.spark.range(1).select(*cols))
        if node.name == "union":
            # source-form `union T1, T2, …`: first operand is the base
            tabs = self._expand_union_tables(
                node.args["tables"], node.args.get("isfuzzy", False)
            )
            if not tabs:
                raise KqlSyntaxError("union: no tables resolved")
            # isfuzzy must forgive an unresolvable FIRST leg too (r14
            # probe-sweep closure — only the tail legs were forgiven):
            # walk until one leg resolves as the base; none resolving
            # is an error even under isfuzzy (Kusto semantics)
            base = first = None
            idx = 0
            for i, cand in enumerate(tabs):
                try:
                    base = (
                        MeerkatTable(self.pipeline(cand))
                        if isinstance(cand, P.Pipeline)
                        else self.table(cand)
                    )
                    first, idx = cand, i
                    break
                except UnknownTableError:
                    if not node.args.get("isfuzzy", False):
                        raise
            if base is None:
                raise KqlSyntaxError("union: no tables resolved")
            rest = {
                "kind": node.args["kind"],
                "tables": tabs[idx + 1:],
                "withsource": node.args.get("withsource"),
                "isfuzzy": node.args.get("isfuzzy", False),
                "base_name": first if isinstance(first, str) else f"union_arg_{idx}",
            }
            if rest["tables"]:
                return self.ap_union(base, rest)
            if rest["withsource"]:
                return MeerkatTable(
                    base.df.select(
                        F.lit(rest["base_name"]).alias(rest["withsource"]), "*"
                    )
                )
            return base
        if node.name == "externaldata":
            # Kusto externaldata: ad-hoc external files with a declared
            # schema → spark.read with the declared schema (columns
            # pruned/pushed down by the source like any other scan).
            # format: csv (default, ignoreFirstRecord → header), json,
            # parquet, txt/raw → text.
            from meerkat_spark.types import kql_to_spark
            from pyspark.sql import types as T

            schema = T.StructType(
                [
                    T.StructField(n, kql_to_spark(ty), True)
                    for n, ty in node.args["schema"]
                ]
            )
            props = {k.lower(): v for k, v in node.args["props"].items()}
            fmt = str(props.get("format", "csv")).lower()
            if fmt in ("txt", "raw"):
                fmt = "text"
            if fmt == "multijson":
                fmt = "json"
            if fmt not in ("csv", "json", "parquet", "text"):
                raise KqlSyntaxError(f"externaldata: unsupported format {fmt!r}")
            reader = self.engine.spark.read.format(fmt)
            if fmt != "parquet":
                reader = reader.schema(schema)
            if fmt == "csv":
                header = str(props.get("ignorefirstrecord", "false")).lower()
                reader = reader.option("header", header in ("true", "1"))
            df = reader.load(node.args["paths"])
            return MeerkatTable(df.select(*[f.name for f in schema]))
        if node.name == "datatable":
            # literal inline table: values evaluated driver-side (they
            # are literals by construction), one createDataFrame
            from meerkat_spark.types import kql_to_spark
            from pyspark.sql import types as T

            schema = T.StructType(
                [
                    T.StructField(n, kql_to_spark(t), True)
                    for n, t in node.args["schema"]
                ]
            )
            ncols = len(node.args["schema"])
            vals = [self._lit_value(v) for v in node.args["values"]]
            rows = [tuple(vals[i : i + ncols]) for i in range(0, len(vals), ncols)]
            return MeerkatTable(local_df(self.engine.spark, rows, schema))
        if node.name == "find":
            # per-table search/filter legs unioned outer with a source_
            # column — each leg stays an independent pushdown-friendly
            # scan; the union is a no-shuffle concatenation
            legs: list[MeerkatTable] = []
            pred = node.args["pred"]
            pred_idents = _collect_idents(pred) if pred is not None else set()
            for tbl in node.args["tables"]:
                t = self.table(tbl)
                if node.args["term"] is not None:
                    t = t.search(node.args["term"])
                else:
                    # Kusto semantics: predicate columns absent from a
                    # table read as null (that disjunct is just false)
                    df = t.df
                    for name in sorted(pred_idents - set(df.columns)):
                        df = df.withColumn(name, F.lit(None))
                    t = MeerkatTable(df.filter(_c(self.expr(pred)))).project_away(
                        *sorted(pred_idents - set(t.df.columns))
                    )
                proj = node.args.get("project")
                if proj:
                    # Kusto `find … project c1, c2`: declared columns
                    # only; a column a table lacks reads as null
                    df = t.df
                    cols = [
                        F.col(c) if c in df.columns else F.lit(None).alias(c)
                        for c in proj
                    ]
                    t = MeerkatTable(df.select(*cols))
                legs.append(
                    MeerkatTable(t.df.select(F.lit(tbl).alias("source_"), "*"))
                )
            out = legs[0]
            for leg in legs[1:]:
                out = out.union(leg, kind="outer")
            return out
        raise KqlSyntaxError(f"unsupported source {node.name!r}")

    def apply(self, t: MeerkatTable, op: P.OpNode) -> MeerkatTable:
        method = getattr(self, f"ap_{op.name.replace('-', '_')}")
        saved = self._cur_schema
        try:
            self._cur_schema = t.df.schema
        except Exception:
            self._cur_schema = None
        try:
            return method(t, op.args)
        finally:
            self._cur_schema = saved

    # -- per-operator translation
    def ap_where(self, t, a):
        # Top-level `col in ((T | ...))` conjuncts compile to a
        # broadcast semi/anti join instead of a literal isin list when
        # the subquery is large: a 1M-literal plan is a driver/analysis
        # bottleneck at scale, while a semi join is the same semantics
        # with no plan bloat (small subqueries keep the literal path —
        # it pushes down to the scan). in() under OR / inside other
        # expressions still goes through the expression path.
        conjuncts = _scan_split_and(a["pred"])
        joins = [
            c
            for c in conjuncts
            if isinstance(c, P.InList)
            and len(c.values) == 1
            and isinstance(c.values[0], P.Pipeline)
        ]
        if not joins:
            saved = self._in_join_ok
            base = len(self._pending_in_joins)
            self._in_join_ok = True
            try:
                pred = _c(self.expr(a["pred"]))
            finally:
                self._in_join_ok = saved
            if len(self._pending_in_joins) > base:
                # nested in()-subquery (under or/iff/...) too large for
                # a literal: membership join, filter on the marker
                df, drops = self._consume_in_joins(t.df, base)
                return MeerkatTable(df.filter(pred).drop(*drops))
            return t.where(pred)
        rest = [c for c in conjuncts if c not in joins]
        out = t
        if rest:
            pred = rest[0]
            for c in rest[1:]:
                pred = P.Binary("and", pred, c)
            out = out.where(_c(self.expr(pred)))
        for c in joins:
            out = MeerkatTable(self._in_subquery_filter(out.df, c))
        return out

    # Below this many distinct values an in()-subquery stays a literal
    # isin (pushes down to the parquet scan); above, it becomes a
    # broadcast semi join. Kusto's own 1M-value in() cap does not apply
    # to the join path (documented extension).
    _IN_LITERAL_MAX = 10_000
    # Above this many distinct values the membership join drops the
    # broadcast hint (a forced broadcast of an unbounded subquery —
    # e.g. a billion-row id list at 100TB — would OOM every executor);
    # the plain equi-join lets AQE pick broadcast/shuffle from runtime
    # stats. Sized so the broadcast stays ~tens of MB. The size check
    # is a bounded limit(N+1).count() probe, paid once at translation.
    _IN_BROADCAST_MAX = 2_000_000

    def _in_join_side(self, vals_df):
        """Broadcast-hint the membership set only when a bounded count
        probe proves it small enough to ship."""
        big = (
            vals_df.limit(self._IN_BROADCAST_MAX + 1).count()
            > self._IN_BROADCAST_MAX
        )
        return vals_df if big else F.broadcast(vals_df)

    def _consume_in_joins(
        self, df: DataFrame, base: int = 0
    ) -> tuple[DataFrame, list[str]]:
        """Apply the in()-subquery membership joins registered SINCE
        `base` to `df` (a consumer snapshots len(_pending_in_joins)
        before its expr calls, so a nested subquery's where/extend
        can't consume an OUTER operator's pending joins against the
        wrong table): each becomes a broadcast LEFT join against the
        distinct value set plus a boolean marker column reproducing
        isin's null semantics (null LHS -> null, hit -> true/false,
        negation included) — the expression that registered the join
        references the marker. Returns (joined df, marker columns to
        drop after the consuming operator projects)."""
        drops: list[str] = []
        for j in self._pending_in_joins[base:]:
            right = self._in_join_side(
                j["vals"].withColumn("__in_hit", F.lit(True))
            )
            lhs = F.lower(j["col"]) if j["ci"] else j["col"]
            joined = df.join(right, on=lhs == F.col("__in_val"), how="left")
            hit = F.coalesce(F.col("__in_hit"), F.lit(False))
            val = F.when(
                j["col"].isNull(), F.lit(None).cast("boolean")
            ).otherwise(~hit if j["negated"] else hit)
            df = joined.withColumn(j["marker"], val).drop(
                "__in_val", "__in_hit"
            )
            drops.append(j["marker"])
        del self._pending_in_joins[base:]
        return df, drops

    def _in_subquery_filter(self, df, node: P.InList):
        sub = self.pipeline(node.values[0])
        first = sub.columns[0]
        # materialize the distinct value set ONCE (ADVICE r10 low): the
        # literal probe, the broadcast-size probe, and the join itself
        # would otherwise each re-execute the whole subquery pipeline —
        # a just-over-10k set used to be computed three times.
        # localCheckpoint stores the (distinct, so bounded) set as
        # executor blocks — never a driver materialization.
        vals_df = sub.select(first).distinct().localCheckpoint(eager=True)
        probe = vals_df.limit(self._IN_LITERAL_MAX + 1).collect()
        col = _c(self.expr(node.expr))
        if len(probe) <= self._IN_LITERAL_MAX:
            vals = [r[0] for r in probe if r[0] is not None]
            if node.case_insensitive:
                res = F.lower(col).isin([str(v).lower() for v in vals])
            else:
                res = col.isin(vals)
            return df.filter(~res if node.negated else res)
        right = vals_df.select(F.col(first).alias("__in_val"))
        lhs = F.lower(col) if node.case_insensitive else col
        rhs = (
            F.lower(F.col("__in_val"))
            if node.case_insensitive
            else F.col("__in_val")
        )
        side = self._in_join_side(right)
        if node.negated:
            # match the literal path's null semantics: null LHS rows
            # are dropped by ~isin, while a bare anti join would keep
            # them
            return df.filter(col.isNotNull()).join(
                side, on=lhs == rhs, how="left_anti"
            )
        return df.join(side, on=lhs == rhs, how="left_semi")

    def ap_project(self, t, a):
        cols = []
        saved = self._in_join_ok
        base = len(self._pending_in_joins)
        self._in_join_ok = True
        try:
            for i, (name, e) in enumerate(a["cols"]):
                c = self.expr(e)
                if name:
                    cols.append(_c(c).alias(name))
                elif isinstance(e, P.Ident):
                    cols.append(F.col(e.name))
                else:
                    cols.append(_c(c).alias(f"Column{i+1}"))
        finally:
            self._in_join_ok = saved
        if len(self._pending_in_joins) > base:
            df, _ = self._consume_in_joins(t.df, base)
            return MeerkatTable(df.select(*cols))  # select drops markers
        return MeerkatTable(t.df.select(*cols))

    def ap_extend(self, t, a):
        from pyspark.sql import Window as W

        in_base = len(self._pending_in_joins)

        if a.get("multi"):
            # (a, b, …) = struct_fn(…): evaluate the struct ONCE, then
            # project its fields onto the names in declaration order
            names, e = a["multi"]
            df = t.df.withColumn("__multi", _c(self.expr(e)))
            fields = df.schema["__multi"].dataType.names
            if len(names) > len(fields):
                raise KqlSyntaxError(
                    f"multi-assign extend: {len(names)} names but the "
                    f"expression produces {len(fields)} fields"
                )
            for n, f in zip(names, fields):
                df = df.withColumn(n, F.col("__multi").getField(f))
            t = MeerkatTable(df.drop("__multi"))
            if not a["cols"]:
                return t

        named = {}
        for i, (name, e) in enumerate(a["cols"]):
            out_name = name or f"Column{i+1}"
            if (
                isinstance(e, P.Call)
                and e.func.lower() == "row_cumsum"
                and len(e.args) == 2
            ):
                # row_cumsum(x, restart): Spark forbids nesting window
                # functions, so the restart form expands to two window
                # passes — segment id = running count of restarts, then
                # a per-segment cumulative sum on the serialize order
                if not self.serialize_order:
                    raise KqlSyntaxError(
                        "row_cumsum() requires a serialized table"
                    )
                w = self._ser_window_by().rowsBetween(
                    W.unboundedPreceding, W.currentRow
                )
                restart = _colify_pred(self.expr(e.args[1]))
                seg = F.sum(
                    F.when(_c(restart).cast("boolean"), 1).otherwise(0)
                ).over(w)
                df = t.df.withColumn("__cs_seg", seg)
                w2 = self._ser_window_by("__cs_seg").rowsBetween(
                    W.unboundedPreceding, W.currentRow
                )
                col = F.sum(_c(self.expr(e.args[0]))).over(w2)
                t = MeerkatTable(
                    df.withColumn(
                        out_name, self._guard_serialized(col, "row_cumsum")
                    ).drop("__cs_seg")
                )
                continue
            if (
                isinstance(e, P.Call)
                and e.func.lower() == "row_number"
                and len(e.args) == 2
            ):
                # row_number(start, restart): segment id from the
                # running restart count, then a per-segment row_number
                # (two window passes, like row_cumsum's restart form)
                if not self.serialize_order:
                    raise KqlSyntaxError("row_number() requires a serialized table")
                start = int(_raw(self.expr(e.args[0])))
                w = self._ser_window_by().rowsBetween(
                    W.unboundedPreceding, W.currentRow
                )
                restart = _colify_pred(self.expr(e.args[1]))
                seg = F.sum(
                    F.when(_c(restart).cast("boolean"), 1).otherwise(0)
                ).over(w)
                df = t.df.withColumn("__rn_seg", seg)
                w2 = self._ser_window_by("__rn_seg")
                t = MeerkatTable(
                    df.withColumn(
                        out_name,
                        self._guard_serialized(
                            F.row_number().over(w2) + F.lit(start - 1),
                            "row_number",
                        ),
                    ).drop("__rn_seg")
                )
                continue
            if (
                isinstance(e, P.Call)
                and e.func.lower() == "row_window_session"
                and len(e.args) in (3, 4)
            ):
                # row_window_session(Expr, MaxDuration, IdleTimeout
                # [, restart]) → the session's FIRST Expr value per row.
                # Sessions break on restart / idle gap > IdleTimeout;
                # the MaxDuration cap restarts GREEDILY at the first
                # breaching row (Kusto-exact, round 7 — differential-
                # pinned in tests/test_kql.py).
                if not self.serialize_order:
                    raise KqlSyntaxError(
                        "row_window_session() requires a serialized table"
                    )
                expr_c = _c(self.expr(e.args[0]))
                max_dur = self.expr(e.args[1])
                idle = self.expr(e.args[2])
                if not isinstance(max_dur, _Span) or not isinstance(idle, _Span):
                    raise KqlSyntaxError(
                        "row_window_session windows must be timespans"
                    )
                w = self._ser_window_by().rowsBetween(
                    W.unboundedPreceding, W.currentRow
                )
                us = F.unix_micros(expr_c.cast("timestamp"))
                gap_break = (
                    us - F.lag(us).over(self._ser_window_by())
                ) > F.lit(int(idle.seconds * 1e6))
                brk = F.coalesce(gap_break, F.lit(True))
                if len(e.args) == 4:
                    brk = brk | _c(
                        _colify_pred(self.expr(e.args[3]))
                    ).cast("boolean")
                df = t.df.withColumn(
                    "__ss_seg",
                    F.sum(F.when(brk, 1).otherwise(0)).over(w),
                )
                max_us = int(max_dur.seconds * 1e6)
                # Kusto-exact greedy MaxDuration — a session
                # restarts at the first row breaching session_start +
                # MaxDuration (data-dependent). Idle/restart breaks stay
                # window-computed; the greedy refinement distributes as
                # one applyInPandas over __ss_seg groups
                from meerkat_spark.operators.sessionize import (
                    greedy_session_first,
                )

                orig_cols = t.df.columns
                df = (
                    df.withColumn("__ss_us", us)
                    .withColumn("__ss_val", expr_c)
                    .withColumn(
                        "__ss_ord",
                        self._guard_serialized(
                            F.row_number().over(self._ser_window_by()),
                            "row_window_session",
                        ),
                    )
                )
                out_df = greedy_session_first(
                    df,
                    # segment numbers restart per partition-by key, so
                    # the group key must include the partition columns
                    list(self._partition_cols or []) + ["__ss_seg"],
                    "__ss_ord", "__ss_us", "__ss_val",
                    "__ss_out", max_us,
                )
                keep = [c for c in orig_cols if c != out_name]
                t = MeerkatTable(
                    out_df.select(
                        *keep, F.col("__ss_out").alias(out_name)
                    )
                )
                continue
            saved = self._in_join_ok
            self._in_join_ok = True
            try:
                named[out_name] = _c(self.expr(e))
            finally:
                self._in_join_ok = saved
        if len(self._pending_in_joins) > in_base:
            df, drops = self._consume_in_joins(t.df, in_base)
            out = MeerkatTable(df).extend(**named)
            return MeerkatTable(out.df.drop(*drops))
        return t.extend(**named) if named else t

    def ap_project_away(self, t, a):
        return t.project_away(*a["patterns"])

    def ap_project_keep(self, t, a):
        return t.project_keep(*a["patterns"])

    def ap_project_rename(self, t, a):
        return t.project_rename(**a["renames"])

    def ap_summarize(self, t, a):
        if a.get("shuffle_keys"):
            # hint.shufflekey=K: pre-shuffle on the key so the aggregate
            # runs co-partitioned (Kusto's skew/shuffle strategy hint)
            t = MeerkatTable(t.df.repartition(*[F.col(k) for k in a["shuffle_keys"]]))
        aggs: dict[str, Column] = {}
        star_aliases: list[str] = []
        multi_expand: list[tuple[str, tuple[str, ...]]] = []
        for i, (name, e) in enumerate(a["aggs"]):
            # Kusto multi-assign: (m, t) = arg_min(value, ts) — output
            # names map positionally onto [ordering expr, expr1, …];
            # realized as ONE min_by/max_by over a struct, expanded
            # after the groupBy (same machinery as arg_max(ord, *))
            if isinstance(name, tuple):
                if not (
                    isinstance(e, P.Call)
                    and e.func.lower() in ("arg_max", "arg_min", "take_any", "any")
                ):
                    raise KqlSyntaxError(
                        "summarize multi-assign supports arg_min/arg_max/"
                        "take_any aggregates"
                    )
                fname = e.func.lower()
                exprs = [_c(self.expr(x, agg=False)) for x in e.args]
                if len(name) != len(exprs):
                    raise KqlSyntaxError(
                        f"summarize ({', '.join(name)}) = {fname}(…): "
                        f"{len(name)} names for {len(exprs)} output columns"
                    )
                row = F.struct(*[c.alias(n) for n, c in zip(name, exprs)])
                if fname in ("arg_max", "arg_min"):
                    fn = F.max_by if fname == "arg_max" else F.min_by
                    agg_col = fn(row, exprs[0])
                else:
                    agg_col = F.any_value(row, ignoreNulls=True)
                alias = f"__multi{i}"
                aggs[alias] = agg_col
                multi_expand.append((alias, tuple(name)))
                continue
            # arg_max(ord, *) / arg_min(ord, *): Kusto returns the WHOLE
            # winning row — aggregate a struct of every column, expanded
            # back to flat columns after the groupBy
            if (
                isinstance(e, P.Call)
                and e.func.lower() in ("arg_max", "arg_min")
                and len(e.args) == 2
                and isinstance(e.args[1], P.Ident)
                and e.args[1].name == "*"
            ):
                ordc = _c(self.expr(e.args[0], agg=False))
                row = F.struct(*[F.col(c) for c in t.df.columns])
                fn = F.max_by if e.func.lower() == "arg_max" else F.min_by
                alias = name or f"__star{i}"
                aggs[alias] = fn(row, ordc)
                star_aliases.append(alias)
                continue
            if (
                name is None
                and isinstance(e, P.Call)
                and e.func.lower() in ("arg_max", "arg_min")
                and len(e.args) >= 2
            ):
                # UNNAMED arg_min(ord, c1, …): Kusto outputs each
                # expression as its OWN column (ordering expr first) —
                # the single-column `arg_min_value` default was a
                # deviation (r14 probe-sweep closure). Routed through
                # the multi-assign struct machinery with derived names;
                # the NAMED form (`m = arg_max(v, x)`) keeps its single
                # output column.
                fname = e.func.lower()
                exprs = [_c(self.expr(x, agg=False)) for x in e.args]
                names = tuple(
                    x.name if isinstance(x, P.Ident) else _default_key_name(x, j)
                    for j, x in enumerate(e.args)
                )
                row = F.struct(*[c.alias(n) for n, c in zip(names, exprs)])
                fn = F.max_by if fname == "arg_max" else F.min_by
                alias = f"__multi{i}"
                aggs[alias] = fn(row, exprs[0])
                multi_expand.append((alias, names))
                continue
            if (
                isinstance(e, P.Call)
                and e.func.lower() in ("take_any", "any")
                and len(e.args) == 1
                and isinstance(e.args[0], P.Ident)
                and e.args[0].name == "*"
            ):
                # take_any(*): one whole surviving row
                row = F.struct(*[F.col(c) for c in t.df.columns])
                alias = name or f"__star{i}"
                aggs[alias] = F.any_value(row, ignoreNulls=True)
                star_aliases.append(alias)
                continue
            col = _c(self.expr(e, agg=True))
            aggs[name or _default_agg_name(e, i)] = col
        by = []
        for i, (name, e) in enumerate(a["by"]):
            c = self.expr(e)
            by.append(_c(c).alias(name or _default_key_name(e, i)))
        if not aggs and by:
            # `summarize by k` == distinct k
            return MeerkatTable(t.df.select(*by).distinct())
        out = t.summarize(aggs, by=by or None)
        for alias in star_aliases:
            df = out.df
            others = [c for c in df.columns if c != alias]
            flat = [
                F.col(f"{alias}.{f.name}").alias(f.name)
                for f in df.schema[alias].dataType.fields
                if f.name not in others
            ]
            out = MeerkatTable(df.select(*others, *flat))
        for alias, names in multi_expand:
            # splice the flat columns at the alias's positional slot so
            # KQL column-order fidelity holds when a multi-assign is
            # mixed with other aggregates
            df = out.df
            cols: list[Column] = []
            for c in df.columns:
                if c == alias:
                    cols.extend(F.col(f"{alias}.`{n}`").alias(n) for n in names)
                else:
                    cols.append(F.col(f"`{c}`"))
            out = MeerkatTable(df.select(*cols))
        return out

    def ap_count(self, t, a):
        return t.count(a.get("alias") or "Count")

    def ap_distinct(self, t, a):
        return t.distinct(*a["cols"])

    def _sort_orders(self, a) -> list[Column]:
        orders = []
        for e, direction, nulls in a["orders"]:
            c = _c(self.expr(e))
            # KQL defaults: asc → nulls first, desc → nulls last;
            # an explicit `nulls first|last` modifier overrides
            if direction == "desc":
                c = c.desc_nulls_first() if nulls == "first" else c.desc_nulls_last()
            else:
                c = c.asc_nulls_last() if nulls == "last" else c.asc_nulls_first()
            orders.append(c)
        return orders

    def ap_sort(self, t, a):
        orders = self._sort_orders(a)
        self.serialize_order = orders  # sort serializes the table (KQL)
        return t.sort(*orders)

    def ap_take(self, t, a):
        n = a["n"]
        if not isinstance(n, int):
            n = int(_raw(self.expr(n)))
        return t.take(n)

    def ap_top(self, t, a):
        c = _c(self.expr(a["by"]))
        nulls = a.get("nulls")
        if nulls is None:
            return t.top(a["n"], c, asc=(a["dir"] == "asc"))
        if a["dir"] == "asc":
            c = c.asc_nulls_last() if nulls == "last" else c.asc_nulls_first()
        else:
            c = c.desc_nulls_first() if nulls == "first" else c.desc_nulls_last()
        return MeerkatTable(t.df.orderBy(c).limit(a["n"]))

    def ap_render(self, t, a):
        return t  # presentation-only directive

    def ap_join(self, t, a):
        right_df = self.pipeline(a["right"])
        kind = a["kind"]
        on = a["on"]
        # Expression on-clauses reference the sides through subquery
        # ALIASES, not dataset-col attributes: with `let hot = …;
        # hot | join (hot) on $left.k == $right.k` both sides carry the
        # SAME attribute ids and dataset refs raise AMBIGUOUS_SELF_JOIN.
        LAL, RAL = "__jl", "__jr"

        def _q(name: str) -> str:
            return "`" + name.replace("`", "``") + "`"

        side_aliases = (LAL, RAL)
        if all(isinstance(k, str) for k in on):
            # plain-name form keeps Spark's merged-key join; the frames
            # are still aliased so the collision-rename select (and a
            # self-joined let table) can reference sides by qualifier
            cond = on
            left_keys = list(on)
        else:
            conds = []
            left_keys = []

            def _flat_eqs(node):
                # `$left.a == $right.b and $left.c == $right.d` parses
                # as one Binary('and') chain — flatten to equalities
                if isinstance(node, P.Binary) and node.op == "and":
                    yield from _flat_eqs(node.left)
                    yield from _flat_eqs(node.right)
                else:
                    yield node

            for k0 in on:
                for k in [k0] if isinstance(k0, str) else _flat_eqs(k0):
                    if isinstance(k, str):
                        conds.append(
                            F.col(f"{LAL}.{_q(k)}") == F.col(f"{RAL}.{_q(k)}")
                        )
                        left_keys.append(k)
                        continue
                    if not (
                        isinstance(k, P.Binary)
                        and k.op == "=="
                        and isinstance(k.left, P.Ident)
                        and isinstance(k.right, P.Ident)
                    ):
                        raise KqlSyntaxError(
                            "join on-clause supports column names and "
                            "$left.x == $right.y equalities (and-chained)"
                        )
                    lcol = k.left.name.split(".", 1)[1]
                    rcol = k.right.name.split(".", 1)[1]
                    conds.append(
                        F.col(f"{LAL}.{_q(lcol)}") == F.col(f"{RAL}.{_q(rcol)}")
                    )
                    left_keys.append(lcol)
            cond = conds[0]
            for c in conds[1:]:
                cond = cond & c
        if kind == "lookup":
            return t.lookup(right_df, on=cond, side_aliases=side_aliases)
        if a.get("shufflekey"):
            # hint.shufflekey=col — explicit co-partitioning of both
            # sides on the declared key (the Kusto skew/colocation hint);
            # Catalyst then plans the join without a further exchange
            keys = a["shufflekey"]
            lkeys = [k for k in keys if k in t.df.columns]
            if lkeys:
                t = MeerkatTable(t.df.repartition(*[F.col(k) for k in lkeys]))
            rkeys = [k for k in keys if k in right_df.columns]
            if rkeys:
                right_df = right_df.repartition(*[F.col(k) for k in rkeys])
        return t.join(
            right_df,
            on=cond,
            kind=kind,
            broadcast_right=a.get("broadcast", False),
            left_keys=left_keys,
            side_aliases=side_aliases,
        )

    def ap_invoke(self, t, a):
        """KQL `T | invoke f(args…)`: f is a let-bound lambda whose
        first `(*)` (tabular) parameter binds the piped table; scalar
        args inline like ordinary lambda calls; the pipeline body
        translates with the tabular param bound as a table name."""
        lam = self.lets.get(a["func"])
        if not isinstance(lam, P.Lambda) or not lam.tabular:
            raise KqlSyntaxError(
                f"invoke: {a['func']!r} is not a let-bound tabular "
                "lambda (declare it as e.g. `let f = (T:(*)) {{ T | ... }};`)"
            )
        tab = lam.tabular[0]
        scal = [p for p in lam.params if p not in lam.tabular]
        call_args = list(a["args"])
        for p in scal[len(call_args):]:
            if p in lam.defaults:
                call_args.append(lam.defaults[p])
        if len(call_args) != len(scal):
            raise KqlSyntaxError(
                f"invoke {a['func']}(): expects {len(scal)} scalar args, "
                f"got {len(a['args'])}"
            )
        arg_vals = [self.expr(x) for x in call_args]
        sentinel = object()
        saved = {p: self.lets.get(p, sentinel) for p in scal}
        saved_tab = self.let_tables.get(tab, sentinel)
        try:
            for p, v in zip(scal, arg_vals):
                self.lets[p] = v
            self.let_tables[tab] = t.df
            return MeerkatTable(self.pipeline(lam.body))
        finally:
            for p, v in saved.items():
                if v is sentinel:
                    self.lets.pop(p, None)
                else:
                    self.lets[p] = v
            if saved_tab is sentinel:
                self.let_tables.pop(tab, None)
            else:
                self.let_tables[tab] = saved_tab

    def _expand_union_tables(self, tables: list, isfuzzy: bool) -> list:
        """Expand `T*` wildcard legs against the catalog AND let-bound
        tables/pipelines (Kusto `union T*`), in name order."""
        from meerkat_spark.catalog import TABLES

        out: list = []
        for tab in tables:
            if isinstance(tab, str) and tab.endswith("*"):
                pre = tab[:-1]
                hits = sorted(
                    set(
                        [x for x in TABLES if x.startswith(pre)]
                        + [x for x in self.let_tables if x.startswith(pre)]
                        + [
                            x
                            for x, v in self.lets.items()
                            if x.startswith(pre) and isinstance(v, P.Pipeline)
                        ]
                    )
                )
                if not hits and not isfuzzy:
                    raise UnknownTableError(tab)
                out.extend(hits)
            else:
                out.append(tab)
        return out

    def ap_union(self, t, a):
        others = []
        names: list[str] = []
        tabs = self._expand_union_tables(a["tables"], a.get("isfuzzy", False))
        for i, tab in enumerate(tabs):
            if isinstance(tab, P.Pipeline):
                nm = (
                    str(tab.source.args.get("name"))
                    if tab.source.name == "table"
                    else f"union_arg_{i + 1}"
                )
                try:
                    others.append(self.pipeline(tab))
                except UnknownTableError:
                    # Kusto isfuzzy forgives ONLY unresolved table
                    # references; genuine translation/semantic errors
                    # in a leg still raise
                    if not a.get("isfuzzy"):
                        raise
                    continue  # isfuzzy=true: unresolvable legs drop out
            else:
                nm = str(tab)
                try:
                    others.append(self.table(tab).df)
                except UnknownTableError:
                    if not a.get("isfuzzy"):
                        raise
                    continue
            names.append(nm)
        ws = a.get("withsource")
        if ws:
            # Kusto `union withsource=Col`: label every row with its
            # originating table (base leg gets its source-form name, or
            # '' in the operator form where the left side is unnamed)
            base = t.df.select(
                F.lit(a.get("base_name") or "").alias(ws), "*"
            )
            others = [
                d.select(F.lit(nm).alias(ws), "*")
                for d, nm in zip(others, names)
            ]
            t = MeerkatTable(base)
        return t.union(*others, kind=a["kind"])

    def _explodable(self, df, col, bag_mode: str):
        """Pass ARRAY columns through; JSON-string dynamics route
        through the entries kernel so bags and arrays both explode."""
        from pyspark.sql import types as T2

        dt = df.select(col.alias("__x")).schema[0].dataType
        if isinstance(dt, T2.StringType):
            return _dyn_entries_udf(bag_mode)(col)
        return col

    def ap_mv_expand(self, t, a):
        index = a.get("index")
        limit = a.get("limit")
        bag_mode = a.get("bag_mode", "bag")
        if len(a["cols"]) > 1:
            return self._mv_expand_zip(t, a["cols"], index, limit)
        (name, e, ty) = a["cols"][0]
        col_name = (
            e.name if name is None and isinstance(e, P.Ident) else name or "Column1"
        )
        raw = (
            F.col(e.name)
            if name is None and isinstance(e, P.Ident)
            else _c(self.expr(e))
        )
        arr = self._explodable(t.df, raw, bag_mode)
        if limit is not None:
            # Kusto `mv-expand … limit N`: at most N output rows per
            # input record — slice the array BEFORE the explode, so
            # the Generate never materializes the dropped elements
            arr = F.slice(arr, 1, limit)
        out = t.extend(**{col_name: arr}).mv_expand(col_name, index_col=index)
        if ty is not None:
            # `to typeof(T)`: cast each exploded element (null-on-misfit)
            from meerkat_spark.types import kql_to_spark

            out = out.extend(
                **{col_name: F.col(col_name).try_cast(kql_to_spark(ty))}
            )
        return out

    def _mv_expand_zip(self, t, cols, index, limit=None):
        """Multi-column mv-expand — Kusto ZIPS the arrays pairwise
        (element i of each array lands on the same output row, shorter
        arrays null-padded to the longest): one posexplode over the
        index range + element_at per column, a single Generate."""
        from meerkat_spark.types import kql_to_spark

        named = []
        for i, (name, e, ty) in enumerate(cols):
            if name is None and isinstance(e, P.Ident):
                name = e.name
            named.append((name or f"Column{i + 1}", _c(self.expr(e)), ty))
        df = t.df
        for n, c, _ in named:
            df = df.withColumn(n, c)
        arr_names = [n for n, _, _ in named]
        longest = F.greatest(
            *[F.coalesce(F.size(F.col(n)), F.lit(0)) for n in arr_names]
        )
        if limit is not None:
            # `limit N`: cap output rows per input record
            longest = F.least(longest, F.lit(limit))
        # rows where every array is empty/null expand to nothing
        # (matching single-column explode semantics)
        df = df.withColumn(
            "__mvi",
            F.explode(
                F.when(
                    longest > 0, F.sequence(F.lit(0), longest - 1)
                ).otherwise(F.array().cast("array<int>"))
            ),
        )
        for n, _, ty in named:
            # try_element_at: past-the-end reads null-pad the shorter
            # arrays (Kusto's zip) and stay ANSI-safe
            el = F.try_element_at(F.col(n), F.col("__mvi") + 1)
            if ty is not None:
                el = el.try_cast(kql_to_spark(ty))
            df = df.withColumn(n, el)
        if index:
            df = df.withColumn(index, F.col("__mvi").cast("long"))
        return MeerkatTable(df.drop("__mvi"))

    def ap_partition(self, t, a):
        """KQL `partition by col ( subquery )` — windowable sub-ops run
        per partition of the column: top-k → per-partition window,
        summarize → groupBy including the partition column, where/extend
        → row-local, and (r7) `sort by` + window functions → KEYED
        windows (row_number()/prev()/row_cumsum()/row_window_session()
        restart per partition, shuffling on the key — the scale path
        the partition-less serialize guard points users at). One
        shuffle on the partition column at most."""
        from pyspark.sql import Window as W

        col = a["col"]
        cur = t
        saved_order = self.serialize_order
        saved_pc = self._partition_cols
        # windowable sub-ops compile KEYED on the partition column —
        # row_number()/prev()/row_cumsum()/row_window_session() restart
        # per partition (Kusto runs the subquery per partition) and the
        # window shuffles on the key instead of a global sort
        self._partition_cols = [col]
        try:
            return self._ap_partition_ops(cur, col, a["ops"])
        finally:
            self.serialize_order = saved_order
            self._partition_cols = saved_pc

    def _ap_partition_ops(self, cur, col, ops):
        from pyspark.sql import Window as W

        for op in ops:
            if op.name == "where":
                cur = cur.where(_c(self.expr(op.args["pred"])))
            elif op.name == "extend":
                cur = self.ap_extend(cur, op.args)
            elif op.name in ("sort", "serialize"):
                # serializes the PER-PARTITION stream for the window
                # forms; no global sort is materialized (partition-by
                # output order is undefined, keyed windows sort within
                # their own partitions)
                self.serialize_order = (
                    self._sort_orders(op.args)
                    if op.name == "sort"
                    else self.serialize_order
                )
            elif op.name == "top":
                c = _c(self.expr(op.args["by"]))
                order = c.asc_nulls_first() if op.args["dir"] == "asc" else c.desc_nulls_last()
                w = W.partitionBy(col).orderBy(order)
                cur = MeerkatTable(
                    cur.df.withColumn("__rk", F.row_number().over(w))
                    .filter(F.col("__rk") <= op.args["n"])
                    .drop("__rk")
                )
            elif op.name == "take":
                # Kusto: N rows PER PARTITION (r14 probe-sweep
                # closure). After an explicit per-partition `sort` the
                # kept rows are that order's prefix; without one the
                # pick is arbitrary per the Kusto contract — realized
                # deterministically-per-run via a monotonic surrogate.
                # Keyed window only: one shuffle on the partition
                # column, never a global sort.
                n = op.args["n"]
                if not isinstance(n, int):
                    n = int(_raw(self.expr(n)))
                order = list(self.serialize_order or []) or [
                    F.monotonically_increasing_id()
                ]
                w = W.partitionBy(col).orderBy(*order)
                cur = MeerkatTable(
                    cur.df.withColumn("__rk", F.row_number().over(w))
                    .filter(F.col("__rk") <= n)
                    .drop("__rk")
                )
            elif op.name == "summarize":
                aggs = {}
                for i, (nm, e) in enumerate(op.args["aggs"]):
                    aggs[nm or _default_agg_name(e, i)] = _c(self.expr(e, agg=True))
                by = [F.col(col)]
                for i, (nm, e) in enumerate(op.args["by"]):
                    by.append(_c(self.expr(e)).alias(nm or _default_key_name(e, i)))
                cur = cur.summarize(aggs, by=by)
            else:
                raise KqlSyntaxError(
                    f"partition subquery does not support {op.name!r}"
                )
        return cur

    def _lit_value(self, node):
        """Driver-side value of a literal AST node (datatable cells)."""
        import datetime as _dt

        if isinstance(node, P.Lit):
            return node.value
        if isinstance(node, P.Unary) and node.op == "-" and isinstance(node.operand, P.Lit):
            return -node.operand.value
        if isinstance(node, P.DateTimeLit):
            if node.text.strip().lower() in ("null", ""):
                return None  # datetime(null) cell (r15)
            txt = node.text.replace("T", " ")
            for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
                try:
                    return _dt.datetime.strptime(txt, fmt)
                except ValueError:
                    continue
            raise KqlSyntaxError(f"unparseable datetime literal {node.text!r}")
        if isinstance(node, P.Timespan):
            return _dt.timedelta(seconds=node.seconds)
        if isinstance(node, P.DynamicLit):
            # dynamic([...]) cell in a dynamic-typed datatable column —
            # dynamics travel as canonical JSON text engine-wide (the
            # bag-literal convention), so serialize the literal items
            # (r14 probe-sweep closure)
            import json as _json

            def _v(n):
                if isinstance(n, P.DynamicLit):
                    return [_v(i) for i in n.items]
                return self._lit_value(n)

            return _json.dumps(
                [_v(i) for i in node.items],
                separators=(",", ":"),
                default=str,
            )
        if (
            isinstance(node, P.Call)
            and node.func.lower()
            in ("int", "long", "real", "double", "bool", "boolean",
                "datetime", "timespan", "decimal", "guid", "string")
            and len(node.args) == 1
            and isinstance(node.args[0], P.Lit)
            and node.args[0].value is None
        ):
            # typed null cells — Kusto's `long(null)` / `datetime(null)`
            # etc. (r15 semantic batch); the column type comes from the
            # datatable schema, so the value is simply null
            return None
        raise KqlSyntaxError("datatable cells must be literals")

    def ap_top_hitters(self, t, a):
        """top-hitters N of col [by measure] — heaviest-hitters by count
        or summed measure: one partial+final hash aggregation, then
        TakeOrderedAndProject (exact; Kusto's is approximate)."""
        col, by = a["col"], a["by"]
        if by is None:
            agg = F.count(F.lit(1)).alias("approximate_count_" + col)
        else:
            agg = F.sum(by).alias("approximate_sum_" + by)
        out = t.df.groupBy(col).agg(agg)
        measure = out.columns[-1]
        return MeerkatTable(
            out.orderBy(F.col(measure).desc(), F.col(col).asc()).limit(a["n"])
        )

    def ap_fork(self, t, a):
        """KQL fork: each named leg re-applies its sub-ops to the shared
        parent plan (no persist — at scale re-scanning the pruned parent
        beats materializing it; Catalyst reuses the scan via exchange
        reuse where profitable), then legs union outer under a
        `fork_leg` discriminator column."""
        legs_out: list[MeerkatTable] = []
        saved_order = self.serialize_order
        for name, ops in a["legs"]:
            # each leg gets the parent's serialization state — a sort
            # inside one leg must not leak into its siblings' windows
            self.serialize_order = saved_order
            cur = MeerkatTable(t.df)
            for op in ops:
                cur = self.apply(cur, op)
            legs_out.append(
                MeerkatTable(cur.df.select(F.lit(name).alias("fork_leg"), "*"))
            )
        self.serialize_order = saved_order
        out = legs_out[0]
        for leg in legs_out[1:]:
            out = out.union(leg, kind="outer")
        return out

    def ap_facet(self, t, a):
        """KQL facet by: one value-count table per column, flattened to
        (facet_column, value, count_) rows — each leg is one partial+
        final hash aggregation. `with (ops)` applies the subquery per
        facet value of a SINGLE facet column (compiled through the
        partition-by machinery — one keyed window/agg, no per-value
        loop)."""
        if a.get("with"):
            if len(a["cols"]) != 1:
                raise KqlSyntaxError(
                    "facet … with (subquery) supports one facet column"
                )
            col = a["cols"][0]
            out = self.ap_partition(t, {"col": col, "ops": a["with"]})
            return out
        legs = []
        for c in a["cols"]:
            legs.append(
                t.df.groupBy(c)
                .agg(F.count(F.lit(1)).alias("count_"))
                .select(
                    F.lit(c).alias("facet_column"),
                    F.col(c).cast("string").alias("value"),
                    "count_",
                )
            )
        out = legs[0]
        for leg in legs[1:]:
            out = out.unionByName(leg)
        return MeerkatTable(out)

    def ap_mv_apply(self, t, a):
        """Per-row subquery over an exploded array (SURVEY.md §2.2.1):
        explode with a row id, run the scoped sub-ops (aggregations and
        top-k scoped to the row), keep parent columns. One explode + at
        most one per-row-window/aggregation — no driver-side loops."""
        from pyspark.sql import Window as W

        elem = a["name"]
        arr = _c(self.expr(a["expr"]))
        parent_cols = list(t.df.columns)
        df = t.df.withColumn("__row", F.monotonically_increasing_id())
        # JSON-string dynamics (datatable cells, parsed bags) explode
        # like arrays, same as mv-expand (r16 — probe batch 15)
        arr = self._explodable(df, arr, "bag")
        if elem in df.columns:
            # bare-column form: the element SHADOWS the source array
            # column — drop the array after exploding it
            exploded = df.select(
                *[c for c in df.columns if c != elem],
                F.explode(arr).alias(elem),
            )
        else:
            exploded = df.select("*", F.explode(arr).alias(elem))
        if a.get("to"):
            from meerkat_spark.types import kql_to_spark

            exploded = exploded.withColumn(
                elem, F.col(elem).try_cast(kql_to_spark(a["to"]))
            )
        cur = MeerkatTable(exploded)
        for op in a["ops"]:
            if op.name == "where":
                cur = cur.where(_c(self.expr(op.args["pred"])))
            elif op.name == "extend":
                cur = self.ap_extend(cur, op.args)
            elif op.name == "top":
                c = _c(self.expr(op.args["by"]))
                order = c.asc_nulls_first() if op.args["dir"] == "asc" else c.desc_nulls_last()
                w = W.partitionBy("__row").orderBy(order)
                cur = MeerkatTable(
                    cur.df.withColumn("__rk", F.row_number().over(w))
                    .filter(F.col("__rk") <= op.args["n"])
                    .drop("__rk")
                )
            elif op.name == "summarize":
                aggs = {}
                for i, (nm, e) in enumerate(op.args["aggs"]):
                    aggs[nm or _default_agg_name(e, i)] = _c(self.expr(e, agg=True))
                keys = ["__row"] + parent_cols
                cur = MeerkatTable(
                    cur.df.groupBy(*keys).agg(
                        *[c.alias(n) for n, c in aggs.items()]
                    )
                )
            else:
                raise KqlSyntaxError(
                    f"mv-apply subquery does not support {op.name!r}"
                )
        return MeerkatTable(cur.df.drop("__row"))

    def _parse_pattern(self, a) -> tuple[str, list[tuple[str, str]]]:
        """Compile a parse/parse-where pattern spec to (regex, captures).
        kind=regex keeps literal segments as raw regexes; flags (Kusto
        `flags=i/m/s`, kind=regex only) become an inline `(?ims)` prefix
        — `U` (ungreedy) is rejected explicitly (the capture groups are
        already lazy; globally inverting greediness of user regex
        segments has no Java-regex equivalent)."""
        import re as _re

        regex_parts = []
        captures: list[tuple[str, str]] = []
        mode = a.get("kind", "simple")
        for kind, val in a["parts"]:
            if kind == "lit":
                # kind=regex: literal segments ARE regular expressions
                # (Kusto's contract); simple/relaxed escape them
                regex_parts.append(val if mode == "regex" else _re.escape(val))
            else:
                name, typ = val
                if mode == "relaxed":
                    # relaxed: a failed typed capture nulls that column
                    # instead of failing the whole row — capture greedily
                    # as text, the cast below nulls misfits
                    pat = "(.*?)"
                else:
                    pat = "(\\d+)" if typ in ("int", "long") else "(.*?)"
                regex_parts.append(pat)
                captures.append((name, typ))
        pattern = "".join(regex_parts)
        flags = (a.get("flags") or "")
        if flags:
            unsupported = set(flags) - set("ims")
            if unsupported:
                raise KqlSyntaxError(
                    f"parse flags {''.join(sorted(unsupported))!r} not "
                    "supported (i/m/s map to inline regex flags; U has "
                    "no Java-regex equivalent)"
                )
            pattern = f"(?{flags})" + pattern
        return pattern, captures

    def ap_parse(self, t, a):
        src = _c(self.expr(a["src"]))
        pattern, captures = self._parse_pattern(a)
        out = t
        for gi, (name, typ) in enumerate(captures, start=1):
            col = F.regexp_extract(src, pattern, gi)
            if typ in ("int", "long", "real", "double"):
                spark_t = {"int": "int", "long": "long", "real": "double", "double": "double"}[typ]
                col = col.try_cast(spark_t)
            out = out.extend(**{name: col})
        return out

    def ap_top_nested(self, t, a):
        """Hierarchical top-k: per level, aggregate by the key prefix,
        rank within the parent, keep top-N (+ optional 'others' rollup),
        then join levels on the parent keys (SURVEY.md §2.2.1)."""
        from pyspark.sql import Window as W

        base = t.df
        level_frames = []
        key_names: list[str] = []
        agg_names: list[str] = []
        for i, lvl in enumerate(a["levels"]):
            key_col = _c(self.expr(lvl["key"]))
            key_name = lvl["key_name"] or _default_key_name(lvl["key"], i)
            agg_col = _c(self.expr(lvl["agg"], agg=True))
            agg_name = lvl["agg_name"] or f"aggregated_{key_name}"
            # materialize EXPRESSION keys onto the base frame so deeper
            # levels can group by the parent key names (r15 — a chained
            # `top-nested 1 of user_id % 2 ...` level previously raised
            # UNRESOLVED_COLUMN on the generated parent key name)
            base = base.withColumn(key_name, key_col)
            grouped = base.groupBy(*key_names, key_name).agg(
                agg_col.alias(agg_name)
            )
            parent = key_names[:]
            w = (
                W.partitionBy(*parent) if parent else W.partitionBy(F.lit(1))
            ).orderBy(F.col(agg_name).desc(), F.col(key_name).asc())
            ranked = grouped.withColumn("__rk", F.row_number().over(w))
            n = lvl["n"]
            kept = ranked.filter(F.col("__rk") <= n) if n else ranked
            kept = kept.drop("__rk")
            if lvl["others"] is not None and n:
                # the others label is any constant expression (r15) —
                # the parser hands over the AST node; legacy plain
                # strings still work
                _oth = lvl["others"]
                oth_lit = (
                    F.lit(_oth)
                    if isinstance(_oth, str)
                    else _c(self.expr(_oth))
                )
                rest = ranked.filter(F.col("__rk") > n).drop("__rk")
                rollup = (
                    rest.groupBy(*parent)
                    .agg(F.sum(agg_name).alias(agg_name))
                    .withColumn(key_name, oth_lit)
                    .select(*parent, key_name, agg_name)
                    if parent
                    else rest.agg(F.sum(agg_name).alias(agg_name)).select(
                        oth_lit.alias(key_name), agg_name
                    )
                )
                kept = kept.unionByName(rollup)
            level_frames.append((kept, parent))
            key_names.append(key_name)
            agg_names.append(agg_name)
        out, _ = level_frames[0]
        for i in range(1, len(level_frames)):
            frame, parent = level_frames[i]
            # 'Other' rollup rows only exist at their own level — inner
            # join on real parent keys drops deeper levels for them, so
            # join left-outer when the parent level has an others row
            how = "left" if a["levels"][i - 1]["others"] is not None else "inner"
            out = out.join(frame, parent, how) if parent else out.crossJoin(frame)
        return MeerkatTable(out)

    def ap_evaluate(self, t, a):
        plugin = a["plugin"]
        if plugin == "rows_near":
            # evaluate rows_near(Condition, NumRows [, RowsAfter]) —
            # rows within NumRows before / RowsAfter after a condition
            # row, on the serialization order (operators/temporalagg.py)
            from meerkat_spark.operators.temporalagg import rows_near

            if not self.serialize_order:
                raise KqlSyntaxError(
                    "rows_near requires a serialized table — add `| serialize` "
                    "or `| sort by …` first"
                )
            if not a["args"]:
                raise KqlSyntaxError("rows_near needs a condition argument")
            cond = _c(self.expr(a["args"][0]))
            n = int(_raw(self.expr(a["args"][1]))) if len(a["args"]) > 1 else 1
            m = (
                int(_raw(self.expr(a["args"][2])))
                if len(a["args"]) > 2
                else None
            )
            return MeerkatTable(
                rows_near(t.df, cond, self.serialize_order, n, m)
            )
        if plugin in (
            "sliding_window_counts",
            "activity_counts_metrics",
            "activity_metrics",
            "new_activity_metrics",
            "rolling_percentile",
            "session_count",
            "activity_engagement",
            "active_users_count",
            "funnel_sequence",
            "sequence_detect",
            "funnel_sequence_completion",
        ):
            # Kusto activity-analytics plugins (operators/temporalagg.py).
            # Column args are idents; Start/End are datetime() literals;
            # windows/bins are timespan (or numeric-seconds) literals.
            from meerkat_spark.operators import temporalagg as TAgg

            args = a["args"]

            def name_of(node):
                if not isinstance(node, P.Ident):
                    raise KqlSyntaxError(f"{plugin} expects a column name")
                return node.name

            def dt_of(node):
                if isinstance(node, P.DateTimeLit):
                    return node.text.replace("T", " ")
                raise KqlSyntaxError(f"{plugin} expects a datetime(...) literal")

            def secs_of(node):
                v = self.expr(node)
                if isinstance(v, _Span):
                    return int(v.seconds)
                if isinstance(v, (int, float)) and not isinstance(v, bool):
                    return int(v)
                raise KqlSyntaxError(f"{plugin} expects a timespan literal")

            if plugin == "sliding_window_counts":
                if len(args) != 6:
                    raise KqlSyntaxError(
                        "sliding_window_counts(Id, Timeline, Start, End, "
                        "Lookback, Bin)"
                    )
                out = TAgg.sliding_window_counts(
                    t.df, name_of(args[0]), name_of(args[1]),
                    dt_of(args[2]), dt_of(args[3]),
                    secs_of(args[4]), secs_of(args[5]),
                )
            elif plugin == "activity_counts_metrics":
                if len(args) != 5:
                    raise KqlSyntaxError(
                        "activity_counts_metrics(Id, Timeline, Start, End, Step)"
                    )
                out = TAgg.activity_counts_metrics(
                    t.df, name_of(args[0]), name_of(args[1]),
                    dt_of(args[2]), dt_of(args[3]), secs_of(args[4]),
                )
            elif plugin == "activity_metrics":
                if len(args) != 5:
                    raise KqlSyntaxError(
                        "activity_metrics(Id, Timeline, Start, End, Window)"
                    )
                out = TAgg.activity_metrics(
                    t.df, name_of(args[0]), name_of(args[1]),
                    dt_of(args[2]), dt_of(args[3]), secs_of(args[4]),
                )
            elif plugin == "new_activity_metrics":
                if len(args) != 5:
                    raise KqlSyntaxError(
                        "new_activity_metrics(Id, Timeline, Start, End, Window)"
                    )
                out = TAgg.new_activity_metrics(
                    t.df, name_of(args[0]), name_of(args[1]),
                    dt_of(args[2]), dt_of(args[3]), secs_of(args[4]),
                )
            elif plugin == "rolling_percentile":
                if len(args) != 5:
                    raise KqlSyntaxError(
                        "rolling_percentile(Value, Percentile, Index, "
                        "BinSize, BinsPerWindow)"
                    )
                # Kusto percentile scale is 0-100
                out = TAgg.rolling_percentile(
                    t.df, name_of(args[0]),
                    float(_raw(self.expr(args[1]))) / 100.0,
                    name_of(args[2]), secs_of(args[3]),
                    int(_raw(self.expr(args[4]))),
                )
            elif plugin == "session_count":
                if len(args) != 6:
                    raise KqlSyntaxError(
                        "session_count(Id, Timeline, Start, End, Bin, LookBack)"
                    )
                out = TAgg.session_count(
                    t.df, name_of(args[0]), name_of(args[1]),
                    dt_of(args[2]), dt_of(args[3]),
                    secs_of(args[4]), secs_of(args[5]),
                )
            elif plugin == "activity_engagement":
                # Kusto: Start/End are OPTIONAL — 4-arg form derives
                # them from the data (one bounded min/max aggregate,
                # the same one-row collect contract as toscalar)
                if len(args) == 4:
                    tl = name_of(args[1])
                    lo, hi = t.df.agg(
                        F.min(tl).alias("lo"), F.max(tl).alias("hi")
                    ).collect()[0]
                    start_v, end_v = lo, hi
                    inner_i, outer_i = 2, 3
                elif len(args) == 6:
                    start_v, end_v = dt_of(args[2]), dt_of(args[3])
                    inner_i, outer_i = 4, 5
                else:
                    raise KqlSyntaxError(
                        "activity_engagement(Id, Timeline, [Start, End,] "
                        "InnerWindow, OuterWindow)"
                    )
                out = TAgg.activity_engagement(
                    t.df, name_of(args[0]), name_of(args[1]),
                    start_v, end_v,
                    secs_of(args[inner_i]), secs_of(args[outer_i]),
                )
            elif plugin == "active_users_count":
                if len(args) != 8:
                    raise KqlSyntaxError(
                        "active_users_count(Id, Timeline, Start, End, "
                        "LookbackWindow, Period, ActivePeriodsCount, Bin)"
                    )
                out = TAgg.active_users_count(
                    t.df, name_of(args[0]), name_of(args[1]),
                    dt_of(args[2]), dt_of(args[3]),
                    lookback_sec=secs_of(args[4]), period_sec=secs_of(args[5]),
                    min_active_periods=int(_raw(self.expr(args[6]))),
                    bin_sec=secs_of(args[7]),
                )
            elif plugin == "funnel_sequence":
                # Kusto: funnel_sequence(Id, Timeline, Start, End,
                # MaxSequenceStepWindow, Step, State, Sequence) — Step
                # (the output period) is accepted and ignored: the
                # prev/next distribution is period-free in this engine.
                if len(args) != 8:
                    raise KqlSyntaxError(
                        "funnel_sequence(Id, Timeline, Start, End, "
                        "MaxStepWindow, Step, State, Sequence)"
                    )
                out = TAgg.funnel_sequence(
                    t.df, name_of(args[0]), name_of(args[1]),
                    state_col=name_of(args[6]),
                    sequence=self._dyn_literal_list(args[7], plugin),
                    max_step_sec=secs_of(args[4]),
                    start=dt_of(args[2]), end=dt_of(args[3]),
                )
            elif plugin == "sequence_detect":
                # sequence_detect(Timeline, MaxStepWindow, MaxSpanWindow,
                # Expr1, …, ExprK, Id) — exprs are boolean conditions;
                # output step columns take the expr's column name when it
                # is a bare identifier, step_i otherwise.
                if len(args) < 6:
                    raise KqlSyntaxError(
                        "sequence_detect(Timeline, MaxStepWindow, "
                        "MaxSpanWindow, Expr1, Expr2, …, Id)"
                    )
                expr_nodes = args[3:-1]
                conds = [_c(self.expr(n)) for n in expr_nodes]
                argnames = a.get("arg_names") or [None] * len(args)
                names = [
                    argnames[3 + i]
                    or (n.name if isinstance(n, P.Ident) else f"step_{i + 1}")
                    for i, n in enumerate(expr_nodes)
                ]
                out = TAgg.sequence_detect(
                    t.df, id_col=name_of(args[-1]), time_col=name_of(args[0]),
                    exprs=conds, max_step_sec=secs_of(args[1]),
                    max_span_sec=secs_of(args[2]), names=names,
                )
            else:  # funnel_sequence_completion
                if len(args) != 8:
                    raise KqlSyntaxError(
                        "funnel_sequence_completion(Id, Timeline, Start, "
                        "End, Bin, State, Sequence, MaxSequenceWindows)"
                    )
                wins = [int(w) for w in self._dyn_literal_list(args[7], plugin)]
                out = TAgg.funnel_sequence_completion(
                    t.df, id_col=name_of(args[0]), time_col=name_of(args[1]),
                    state_col=name_of(args[5]),
                    sequence=self._dyn_literal_list(args[6], plugin),
                    max_window_sec=wins,
                    start=dt_of(args[2]), end=dt_of(args[3]),
                    bin_sec=secs_of(args[4]),
                )
            return MeerkatTable(out)
        if plugin == "dcount_intersect":
            # evaluate dcount_intersect(hll_1, …, hll_k) — distinct-count
            # of the running intersections via inclusion-exclusion over
            # Datasketches HLL unions (|∩first m| = Σ(−1)^{|S|+1}|∪S|).
            # Estimates, like Kusto's; clamped at 0 and rounded. Scalar
            # per-row expressions over pre-aggregated sketch columns —
            # no extra shuffle.
            from itertools import combinations

            args = a["args"]
            if not 2 <= len(args) <= 4:
                raise KqlSyntaxError(
                    "dcount_intersect expects 2-4 hll sketch columns"
                )
            names = []
            for node in args:
                if not isinstance(node, P.Ident):
                    raise KqlSyntaxError(
                        "dcount_intersect expects hll column names"
                    )
                names.append(node.name)

            def union_est(subset):
                acc = F.col(subset[0])
                for nm in subset[1:]:
                    acc = F.hll_union(acc, F.col(nm))
                return F.hll_sketch_estimate(acc)

            outs = []
            for m in range(1, len(names) + 1):
                total = F.lit(0).cast("double")
                for r in range(1, m + 1):
                    for sub in combinations(names[:m], r):
                        sign = 1 if r % 2 == 1 else -1
                        total = total + F.lit(sign) * union_est(list(sub))
                outs.append(
                    F.greatest(F.lit(0).cast("long"), F.round(total).cast("long"))
                    .alias(f"s{m}")
                )
            return MeerkatTable(t.df.select("*", *outs))
        if plugin == "ipv4_lookup":
            # evaluate ipv4_lookup(LookupTable, SourceIPv4Key,
            # IPv4NetworkKey [, return_unmatched]) — longest-prefix CIDR
            # enrich (operators/iplookup.py: bounded prefix-length
            # explode + ONE broadcast equi-join; never a theta-join)
            from meerkat_spark.operators.iplookup import ipv4_lookup as _ipl

            args = a["args"]
            if len(args) < 3 or not isinstance(args[0], P.Ident):
                raise KqlSyntaxError(
                    "ipv4_lookup(LookupTable, SourceIPv4Key, IPv4NetworkKey"
                    " [, return_unmatched])"
                )

            def col_name(node):
                if not isinstance(node, P.Ident):
                    raise KqlSyntaxError("ipv4_lookup expects column names")
                return node.name

            lut = self.table(args[0].name).df
            unmatched = bool(_raw(self.expr(args[3]))) if len(args) > 3 else False
            return MeerkatTable(
                _ipl(t.df, lut, col_name(args[1]), col_name(args[2]), unmatched)
            )
        if plugin == "bag_unpack":
            col_node = a["args"][0]
            if not isinstance(col_node, P.Ident):
                raise KqlSyntaxError("bag_unpack expects a column name")
            col = col_node.name
            # discover bag keys over the FULL column with one distributed
            # distinct-key aggregation (explode → partial-dedup per
            # partition → tiny final set). A row-sample here silently
            # drops keys that first appear late in the table.
            row = (
                t.df.select(
                    F.explode_outer(F.json_object_keys(F.col(col))).alias("k")
                )
                .agg(F.collect_set("k").alias("ks"))
                .collect()[0]
            )
            keys: set[str] = set(row.ks or [])
            out = t.df
            for k in sorted(keys):
                out = out.withColumn(k, F.get_json_object(F.col(col), f"$.{k}"))
            return MeerkatTable(out.drop(col))
        if plugin == "pivot":
            col_node = a["args"][0]
            if not isinstance(col_node, P.Ident):
                raise KqlSyntaxError("pivot expects a column name")
            pivot_col = col_node.name
            agg = (
                _c(self.expr(a["args"][1], agg=True))
                if len(a["args"]) > 1
                else F.count(F.lit(1))
            )
            # KQL pivot groups by every remaining column
            others = [c for c in t.df.columns if c != pivot_col]
            return MeerkatTable(
                t.df.groupBy(*others).pivot(pivot_col).agg(agg.alias("v"))
            )
        if plugin == "autocluster":
            # Kusto autocluster(): surface attribute combinations with
            # high coverage. Kusto uses a proprietary heuristic; this
            # variant is EXACT — cube over the (≤4, by column order)
            # string columns, keep combos covering ≥ size_weight% of
            # rows. null segment values mean "any" (cube wildcard);
            # SegmentCount/Percent mirror Kusto's output shape. Exact ⇒
            # deterministic ⇒ oracle-checkable; the cube is a single
            # partial+final aggregate (2^k grouping sets, k ≤ 4).
            min_pct = float(_raw(self.expr(a["args"][0]))) if a.get("args") else 5.0
            df = t.to_df()
            cats = [
                f.name
                for f in df.schema.fields
                if f.dataType.simpleString() == "string"
            ][:4]
            if not cats:
                raise KqlSyntaxError("autocluster needs at least one string column")
            total = df.count()
            cube = (
                df.cube(*cats)
                .agg(F.count(F.lit(1)).alias("SegmentCount"))
                .withColumn(
                    "Percent",
                    F.round(F.col("SegmentCount") * 100.0 / F.lit(total), 2),
                )
                .filter(F.col("Percent") >= min_pct)
            )
            # drop the grand-total row (all wildcards) — Kusto omits it
            not_all_null = None
            for c in cats:
                cond = F.col(c).isNotNull()
                not_all_null = cond if not_all_null is None else (not_all_null | cond)
            return MeerkatTable(cube.filter(not_all_null))
        if plugin == "basket":
            # Kusto basket(): frequent itemsets of attribute values
            # (Apriori). Kusto's plugin samples/heuristic-prunes; this
            # variant is EXACT for the column-value itemset model: cube
            # over the (≤4, by column order) string columns, keep
            # combos with support ≥ threshold fraction (default 0.05).
            # null segment values mean "any" (cube wildcard). One
            # partial+final aggregate (2^k grouping sets, k ≤ 4) — no
            # candidate-generation passes needed at this k.
            frac = (
                float(_raw(self.expr(a["args"][0]))) if a.get("args") else 0.05
            )
            df = t.to_df()
            cats = [
                f.name
                for f in df.schema.fields
                if f.dataType.simpleString() == "string"
            ][:4]
            if not cats:
                raise KqlSyntaxError("basket needs at least one string column")
            total = df.count()
            out = (
                df.cube(*cats)
                .agg(F.count(F.lit(1)).alias("Count"))
                .withColumn(
                    "Percent",
                    F.round(F.col("Count") * 100.0 / F.lit(total), 2),
                )
                .filter(F.col("Count") >= frac * total)
            )
            not_all_null = None
            for c in cats:
                cond = F.col(c).isNotNull()
                not_all_null = (
                    cond if not_all_null is None else (not_all_null | cond)
                )
            return MeerkatTable(out.filter(not_all_null))
        if plugin == "diffpatterns_text":
            # evaluate diffpatterns_text(TextColumn, SplitColumn,
            #                            "valueA", "valueB"
            #                            [, min_percent_diff])
            from meerkat_spark.text.analysis import diffpatterns_text

            args = a.get("args") or []
            if len(args) < 4:
                raise KqlSyntaxError(
                    "diffpatterns_text(TextColumn, SplitColumn, valueA, "
                    "valueB[, min_percent_diff])"
                )
            for node in args[:2]:
                if not isinstance(node, P.Ident):
                    raise KqlSyntaxError(
                        "diffpatterns_text expects column names first"
                    )
            return MeerkatTable(
                diffpatterns_text(
                    t.to_df(),
                    args[0].name,
                    args[1].name,
                    str(_raw(self.expr(args[2]))),
                    str(_raw(self.expr(args[3]))),
                    float(_raw(self.expr(args[4]))) if len(args) > 4 else 0.0,
                )
            )
        if plugin == "diffpatterns":
            # evaluate diffpatterns(SplitColumn, "valueA", "valueB"
            #                       [, min_percent_diff])
            # Patterns (attribute-value combos over the ≤4 remaining
            # string columns) whose prevalence differs between the two
            # row subsets. Kusto's plugin is heuristic; this variant is
            # exact: one cube with two conditional counts, percent
            # computed against each subset's own total (Kusto's
            # definition), filtered on |PercentA − PercentB|.
            if len(a.get("args") or []) < 3:
                raise KqlSyntaxError(
                    "diffpatterns(SplitColumn, valueA, valueB"
                    "[, min_percent_diff])"
                )
            split_node = a["args"][0]
            if not isinstance(split_node, P.Ident):
                raise KqlSyntaxError("diffpatterns expects a split column name")
            split = split_node.name
            va = _raw(self.expr(a["args"][1]))
            vb = _raw(self.expr(a["args"][2]))
            min_diff = (
                float(_raw(self.expr(a["args"][3])))
                if len(a["args"]) > 3
                else 1.0
            )
            df = t.to_df()
            cats = [
                f.name
                for f in df.schema.fields
                if f.dataType.simpleString() == "string" and f.name != split
            ][:4]
            if not cats:
                raise KqlSyntaxError(
                    "diffpatterns needs a string column besides the split"
                )
            both = df.filter(F.col(split).isin([va, vb]))
            tot = both.groupBy().agg(
                F.sum(F.when(F.col(split) == va, 1).otherwise(0)).alias("ta"),
                F.sum(F.when(F.col(split) == vb, 1).otherwise(0)).alias("tb"),
            ).collect()[0]
            ta, tb = max(int(tot.ta or 0), 1), max(int(tot.tb or 0), 1)
            out = (
                both.cube(*cats)
                .agg(
                    F.sum(
                        F.when(F.col(split) == va, 1).otherwise(0)
                    ).alias("CountA"),
                    F.sum(
                        F.when(F.col(split) == vb, 1).otherwise(0)
                    ).alias("CountB"),
                )
                .withColumn(
                    "PercentA", F.round(F.col("CountA") * 100.0 / ta, 2)
                )
                .withColumn(
                    "PercentB", F.round(F.col("CountB") * 100.0 / tb, 2)
                )
                .withColumn(
                    "PercentDiff",
                    F.round(F.abs(F.col("PercentA") - F.col("PercentB")), 2),
                )
                .filter(F.col("PercentDiff") >= min_diff)
            )
            not_all_null = None
            for c in cats:
                cond = F.col(c).isNotNull()
                not_all_null = (
                    cond if not_all_null is None else (not_all_null | cond)
                )
            return MeerkatTable(out.filter(not_all_null))
        if plugin == "narrow":
            # Kusto narrow(): transpose to (Row, Column, Value) triples,
            # values stringified. Row is the serialized row number —
            # Kusto IMPLIES the serialization (r15, closing the r14
            # probe-backlog gap): without an explicit `serialize`/`sort
            # by`, freeze the current (arbitrary) order exactly as a
            # bare `| serialize` would.
            if not self.serialize_order:
                t = MeerkatTable(
                    t.to_df().withColumn(
                        "__serial", F.monotonically_increasing_id()
                    )
                )
                self.serialize_order = [F.col("__serial").asc()]
            from pyspark.sql import Window as W

            df = t.to_df().withColumn(
                "Row",
                F.row_number().over(W.orderBy(*self.serialize_order)) - 1,
            )
            cols = [c for c in df.columns if c not in ("Row", "__serial")]
            stack = F.expr(
                "stack({}, {})".format(
                    len(cols),
                    ", ".join(
                        f"'{c}', cast(`{c}` as string)" for c in cols
                    ),
                )
            ).alias("Column", "Value")
            return MeerkatTable(df.select("Row", stack))
        if plugin in (
            "fuzzy_dedup",
            "select_token_budget",
            "knn",
            "semdedup",
            "decontaminate",
            "heavy_hitters",
            "weighted_sample",
            "frequency_estimate",
        ):
            # r12: the LLM-pipeline operators exposed through the KQL
            # front-end (VERDICT r11 ask #6) — `evaluate`-style plugins
            # are the reference's declared extension point (SURVEY
            # §2.2.7; README.md:34 commits to KQL as THE query
            # language). Thin arg-mapping shims over the exact engine
            # code paths the DataFrame API uses, so the existing
            # oracles/semantics carry over unchanged.
            args = a["args"]

            def col_name(node, what="a column name"):
                if not isinstance(node, P.Ident):
                    raise KqlSyntaxError(f"{plugin} expects {what}")
                return node.name

            def lit_arg(node, usage, cast=int):
                """Plugin scalar argument → Python literal. A
                non-literal (column reference, string where a number
                is required, timespan, …) raises KqlSyntaxError
                carrying the plugin's usage string — the same error
                class as the arity checks — instead of a bare
                ValueError/TypeError leaking out of int()/float()
                (ADVICE r13)."""
                try:
                    return cast(_raw(self.expr(node)))
                except KqlSyntaxError:
                    raise KqlSyntaxError(usage) from None
                except (TypeError, ValueError) as e:
                    raise KqlSyntaxError(usage) from e

            if plugin == "fuzzy_dedup":
                # evaluate fuzzy_dedup(IdCol, TextCol [, Threshold=0.8])
                # → T minus non-representative near-duplicates
                # (MinHash-LSH → exact-Jaccard verify → components,
                # text/dedup.fuzzy_dedup)
                from meerkat_spark.text.dedup import fuzzy_dedup

                if not 2 <= len(args) <= 3:
                    raise KqlSyntaxError(
                        "fuzzy_dedup(IdCol, TextCol [, Threshold])"
                    )
                thr = (
                    float(_raw(self.expr(args[2]))) if len(args) > 2 else 0.8
                )
                return MeerkatTable(
                    fuzzy_dedup(
                        t.to_df(),
                        text_col=col_name(args[1]),
                        id_col=col_name(args[0]),
                        threshold=thr,
                    )
                )
            if plugin == "select_token_budget":
                # evaluate select_token_budget(StratumCol, TokenCol,
                #   IdCol, 'stratum1', budget1 [, 'stratum2', budget2 …])
                # → the per-stratum hash-prefix selection
                # (operators/sampling.select_token_budget)
                from meerkat_spark.operators.sampling import (
                    select_token_budget,
                )

                if len(args) < 5 or len(args) % 2 == 0:
                    raise KqlSyntaxError(
                        "select_token_budget(StratumCol, TokenCol, IdCol, "
                        "'stratum', budget, …)"
                    )
                budgets: dict[str, int] = {}
                rest = args[3:]
                for s_node, b_node in zip(rest[::2], rest[1::2]):
                    s = _raw(self.expr(s_node))
                    if not isinstance(s, str):
                        raise KqlSyntaxError(
                            "select_token_budget stratum keys must be "
                            "string literals"
                        )
                    budgets[s] = int(_raw(self.expr(b_node)))
                return MeerkatTable(
                    select_token_budget(
                        t.to_df(),
                        budgets,
                        stratum_col=col_name(args[0]),
                        token_col=col_name(args[1]),
                        id_col=col_name(args[2]),
                    )
                )
            if plugin == "semdedup":
                # evaluate semdedup(IdCol, VecCol [, Threshold=0.9
                #   [, TargetCluster=64]]) → T minus semantic
                # near-duplicates (similarity/semdedup.py: cluster-then-
                # compare, exact-dup collision routing, bounded cells)
                from meerkat_spark.similarity.semdedup import semdedup

                if not 2 <= len(args) <= 4:
                    raise KqlSyntaxError(
                        "semdedup(IdCol, VecCol [, Threshold [, TargetCluster]])"
                    )
                thr = (
                    float(_raw(self.expr(args[2]))) if len(args) > 2 else 0.9
                )
                tc = int(_raw(self.expr(args[3]))) if len(args) > 3 else 64
                return MeerkatTable(
                    semdedup(
                        t.to_df(),
                        threshold=thr,
                        target_cluster=tc,
                        id_col=col_name(args[0]),
                        vec_col=col_name(args[1]),
                    )
                )
            if plugin == "frequency_estimate":
                # evaluate frequency_estimate(Col [, Depth=4
                #   [, Width=8192 [, Seed=0]]]) — Count-Min point
                # estimates for every distinct value of Col
                # (operators/sketches.py): build the partially-
                # aggregated cell table in one pass, broadcast
                # min-over-depth lookup; estimates never undercount
                from meerkat_spark.operators.sketches import (
                    count_min_build,
                    count_min_estimate,
                )

                usage = (
                    "frequency_estimate(Col [, Depth [, Width [, Seed "
                    "[, WeightCol]]]])"
                )
                if not 1 <= len(args) <= 5:
                    raise KqlSyntaxError(usage)
                depth = lit_arg(args[1], usage) if len(args) > 1 else 4
                width = lit_arg(args[2], usage) if len(args) > 2 else 8192
                seed = lit_arg(args[3], usage) if len(args) > 3 else 0
                # 5-arg form (r14): WEIGHTED Count-Min — cells sum
                # WeightCol instead of counting rows, estimates bound
                # the per-key weight mass (Kusto's sum(W) shape)
                wc = (
                    col_name(args[4], "a weight column name")
                    if len(args) > 4
                    else None
                )
                kc = col_name(args[0])
                df = t.to_df()
                cm = count_min_build(
                    df, kc, depth=depth, width=width, seed=seed,
                    weight_col=wc,
                )
                return MeerkatTable(
                    count_min_estimate(
                        cm, df, kc, depth=depth, width=width, seed=seed
                    )
                )
            if plugin == "weighted_sample":
                # evaluate weighted_sample(IdCol, WeightCol, N
                #   [, 'salt']) — Efraimidis-Spirakis exact-N weighted
                # draw without replacement (operators/sampling.
                # weighted_sample_n): deterministic under the salt,
                # selection probability proportional to WeightCol
                from meerkat_spark.operators.sampling import (
                    weighted_sample_n,
                )

                usage = (
                    "weighted_sample(IdCol, WeightCol, N [, Salt "
                    "[, StratumCol]])"
                )
                if not 3 <= len(args) <= 5:
                    raise KqlSyntaxError(usage)
                salt = lit_arg(args[3], usage, str) if len(args) > 3 else "s1"
                # 5-arg form (r14): STRATIFIED draw — exactly N per
                # stratum via the keyed-window form (one shuffle on
                # the stratum, never a global one)
                strat = (
                    col_name(args[4], "a stratum column name")
                    if len(args) > 4
                    else None
                )
                return MeerkatTable(
                    weighted_sample_n(
                        t.to_df(),
                        weight_col=col_name(args[1]),
                        n=lit_arg(args[2], usage),
                        id_col=col_name(args[0]),
                        salt=salt,
                        stratum_col=strat,
                    )
                )
            if plugin == "heavy_hitters":
                # evaluate heavy_hitters(Col, K [, Capacity=4096
                #   [, WeightCol]]) — Misra-Gries top-K
                # (operators/sketches.py): the sketch twin of
                # `top-hitters` for key cardinalities where an exact
                # rank's shuffle (= |distinct keys|) is the
                # bottleneck; the 4-arg form is the weighted variant
                # of Kusto's `top-hitters N of C by sum(W)` — counts
                # become sums of WeightCol, same bound structure
                # (r14, VERDICT r13 ask #8); output (Col,
                # approximate_count, count_error_max), bounds
                # documented on the operator
                from meerkat_spark.operators.sketches import heavy_hitters

                usage = "heavy_hitters(Col, K [, Capacity [, WeightCol]])"
                if not 2 <= len(args) <= 4:
                    raise KqlSyntaxError(usage)
                cap = lit_arg(args[2], usage) if len(args) > 2 else 4096
                wcol = (
                    col_name(args[3], "a weight column name")
                    if len(args) > 3
                    else None
                )
                return MeerkatTable(
                    heavy_hitters(
                        t.to_df(),
                        col_name(args[0]),
                        k=lit_arg(args[1], usage),
                        capacity=cap,
                        weight_col=wcol,
                    )
                )
            if plugin == "decontaminate":
                # evaluate decontaminate(IdCol, TextCol, BenchmarkTable
                #   [, K=3 [, MinShared=1]]) → T minus documents whose
                # k-gram overlap with the benchmark reaches MinShared
                # (text/decontaminate.py: hashed grams, df-capped
                # posting lists — never corpus x benchmark)
                from meerkat_spark.text.decontaminate import decontaminate

                if len(args) < 3 or not isinstance(args[2], P.Ident):
                    raise KqlSyntaxError(
                        "decontaminate(IdCol, TextCol, BenchmarkTable "
                        "[, K [, MinShared]])"
                    )
                bench = self.table(args[2].name).df
                k_ = int(_raw(self.expr(args[3]))) if len(args) > 3 else 3
                ms = int(_raw(self.expr(args[4]))) if len(args) > 4 else 1
                return MeerkatTable(
                    decontaminate(
                        t.to_df(),
                        bench,
                        text_col=col_name(args[1]),
                        id_col=col_name(args[0]),
                        k=k_,
                        min_shared=ms,
                    )
                )
            # evaluate knn(IdCol, VecCol, K, QueryCond) → brute-force
            # cosine top-K of every row matching QueryCond against the
            # whole table (similarity/knn.brute_force_topk_vectorized —
            # query set driver-collected under the bounded-rows guard,
            # corpus never collected); output (query_id, neighbor_id,
            # sim, rank)
            from meerkat_spark.similarity import knn as _knn

            if len(args) != 4:
                raise KqlSyntaxError("knn(IdCol, VecCol, K, QueryCond)")
            id_c, vec_c = col_name(args[0]), col_name(args[1])
            k = int(_raw(self.expr(args[2])))
            cond = _c(self.expr(args[3]))
            df = t.to_df()
            q_pdf = _knn.queries_to_pdf(df.filter(cond), id_c, vec_c)
            return MeerkatTable(
                _knn.brute_force_topk_vectorized(
                    df, q_pdf, k=k, id_col=id_c, vec_col=vec_c
                )
            )
        raise KqlSyntaxError(f"unknown evaluate plugin {plugin!r}")

    def ap_make_series(self, t, a):
        step = self.expr(a["step"])
        numeric = isinstance(step, (int, float)) and not isinstance(step, bool)
        if not isinstance(step, _Span) and not numeric:
            raise KqlSyntaxError("make-series step must be a timespan or number")
        ts_node = a["on"]
        if not isinstance(ts_node, P.Ident):
            raise KqlSyntaxError("make-series on-clause must be a column")
        ts = ts_node.name
        default = _c(self.expr(a["default"]))

        if numeric:
            # numeric axis (Kusto allows any numeric on-column): bin by
            # floor division, spine = lo + k*step over an integer k
            # sequence (sequence() itself only steps integrally)
            stepv = float(step)
            if stepv <= 0:
                raise KqlSyntaxError("make-series step must be positive")

            def nbin(c):
                return F.floor(c.cast("double") / F.lit(stepv)) * F.lit(stepv)

            binned = nbin(F.col(ts)).alias("__bin")
            by_cols, by_names = [], []
            for i, (name, e) in enumerate(a["by"]):
                out_name = name or _default_key_name(e, i)
                by_cols.append(_c(self.expr(e)).alias(out_name))
                by_names.append(out_name)
            aggs: dict[str, Column] = {}
            for i, (name, e) in enumerate(a["aggs"]):
                aggs[name or _default_agg_name(e, i)] = _c(self.expr(e, agg=True))
            grouped = t.df.groupBy(*by_cols, binned).agg(
                *[c.alias(n) for n, c in aggs.items()]
            )
            if a["from"] is not None:
                lo = _c(self.expr(a["from"]))
                hi = _c(self.expr(a["to"]))
                bounds = t.df.sparkSession.range(1).select(
                    nbin(lo).alias("__lo"), nbin(hi).alias("__hi")
                )
            else:
                bounds = grouped.agg(
                    F.min("__bin").alias("__lo"), F.max("__bin").alias("__hi")
                )
            spine = bounds.select(
                F.col("__lo"),
                F.explode(
                    F.sequence(
                        F.lit(0),
                        F.floor(
                            (F.col("__hi") - F.col("__lo")) / F.lit(stepv)
                        ).cast("long"),
                    )
                ).alias("__k"),
            ).select(
                (F.col("__lo") + F.col("__k") * F.lit(stepv)).alias("__bin")
            )
            return self._make_series_assemble(
                grouped, spine, by_names, aggs, default, ts
            )
        step_s = int(step.seconds)

        binned = S.bin_datetime(F.col(ts), step_s).alias("__bin")
        by_cols, by_names = [], []
        for i, (name, e) in enumerate(a["by"]):
            out_name = name or _default_key_name(e, i)
            by_cols.append(_c(self.expr(e)).alias(out_name))
            by_names.append(out_name)

        aggs: dict[str, Column] = {}
        for i, (name, e) in enumerate(a["aggs"]):
            aggs[name or _default_agg_name(e, i)] = _c(self.expr(e, agg=True))
        grouped = t.df.groupBy(*by_cols, binned).agg(
            *[c.alias(n) for n, c in aggs.items()]
        )

        # bounds: explicit or derived from the data (single-row agg join)
        if a["from"] is not None:
            lo = _c(self.expr(a["from"]))
            hi = _c(self.expr(a["to"]))
            bounds = t.df.sparkSession.range(1).select(
                S.bin_datetime(lo, step_s).alias("__lo"),
                S.bin_datetime(hi, step_s).alias("__hi"),
            )
        else:
            bounds = grouped.agg(
                F.min("__bin").alias("__lo"), F.max("__bin").alias("__hi")
            )
        spine = bounds.select(
            F.explode(
                F.sequence(
                    F.col("__lo"), F.col("__hi"), F.expr(f"INTERVAL {step_s} SECOND")
                )
            ).alias("__bin")
        )
        return self._make_series_assemble(grouped, spine, by_names, aggs, default, ts)

    def _make_series_assemble(self, grouped, spine, by_names, aggs, default, ts):
        """Shared make-series tail: group × spine grid, left-join the
        pre-aggregated bins, default-fill, collect dense ordered arrays
        per group (the KQL make-series output shape)."""
        groups = grouped.select(*by_names).distinct() if by_names else None
        grid = groups.crossJoin(spine) if groups is not None else spine
        joined = grid.join(grouped, [*by_names, "__bin"], "left")
        filled = joined.select(
            *by_names,
            F.col("__bin"),
            *[F.coalesce(F.col(n), default).alias(n) for n in aggs],
        )
        collect = filled.groupBy(*by_names) if by_names else filled.groupBy()
        pairs = F.array_sort(
            F.collect_list(F.struct(F.col("__bin"), *[F.col(n) for n in aggs]))
        )
        def _field_getter(field_name):
            # NB: the lambda must be unary — pandas/pyspark transform()
            # passes (element, index) to binary lambdas
            return lambda s: s.getField(field_name)

        out = collect.agg(
            F.transform(pairs, _field_getter("__bin")).alias(ts),
            *[F.transform(pairs, _field_getter(n)).alias(n) for n in aggs],
        )
        return MeerkatTable(out)

    def ap_search(self, t, a):
        return t.search(
            a["term"],
            case_sensitive=a.get("case_sensitive", False),
            column=a.get("col"),
        )

    def ap_project_reorder(self, t, a):
        return t.project_reorder(*a["first"])

    def ap_as(self, t, a):
        """Bind the current table to a name usable later in the query
        (e.g. as a join operand)."""
        self.let_tables[a["name"]] = t.df
        return t

    def ap_parse_where(self, t, a):
        out = self.ap_parse(t, a)
        src = _c(self.expr(a["src"]))
        # the SAME compiled pattern as the extraction (r16 — the old
        # rebuild always re-escaped literals, so kind=regex patterns
        # filtered on the escaped form, and flags were dropped)
        pattern, _ = self._parse_pattern(a)
        return out.where(src.rlike(pattern))

    def ap_getschema(self, t, a):
        return t.getschema()

    def ap_sample(self, t, a):
        # KQL sample N is a row count — exact-N via the builder's
        # TakeOrdered-on-rand path; a fractional argument selects the
        # builder's Bernoulli mode (engine extension)
        n = a["n"]
        return t.sample(n if 0 < n < 1 else int(n))

    def ap_sample_distinct(self, t, a):
        # exact-N distinct values of one column (Kusto sample-distinct)
        return t.sample_distinct(int(a["n"]), a["col"])

    def ap_make_graph(self, t, a):
        """KQL make-graph: the piped table becomes the edge list; the
        graph context is held for the (required) following graph-match.
        No materialization happens here — the 'graph' is a logical pair
        of DataFrames; pattern matching compiles to joins."""
        nodes = a.get("nodes")
        if nodes is None:
            nodes_df = None
        elif isinstance(nodes, P.Pipeline):
            nodes_df = self.pipeline(nodes)
        else:
            nodes_df = self.table(nodes).to_df()
        self._graph = {
            "edges": t.to_df(),
            "src": a["src"],
            "dst": a["dst"],
            "nodes": nodes_df,
            "node_id": a.get("node_id"),
        }
        return t

    def ap_parse_kv(self, t, a):
        """KQL parse-kv. Delimiter mode: ONE str_to_map per row, then a
        typed element_at per declared key — row-local codegen, no regex
        per key. Regex mode (`with (regex=...)`, two capture groups:
        key, value): ONE regexp_extract_all pass per group builds
        parallel key/value arrays, each declared key reads its FIRST
        occurrence via array_position + get (Kusto first-wins; no map
        build, so duplicate keys never trip mapKeyDedupPolicy)."""
        from meerkat_spark.types import kql_to_spark

        cols = [t.df[c] for c in t.df.columns]
        if a.get("regex"):
            s = _c(self.expr(a["expr"]))
            ks = F.regexp_extract_all(s, F.lit(a["regex"]), F.lit(1))
            vs = F.regexp_extract_all(s, F.lit(a["regex"]), F.lit(2))
            for kname, ktype in a["keys"]:
                idx = F.array_position(ks, F.lit(kname))
                v = F.when(idx > 0, F.get(vs, (idx - 1).cast("int")))
                cols.append(v.try_cast(kql_to_spark(ktype)).alias(kname))
            return MeerkatTable(t.df.select(*cols))
        m = F.str_to_map(
            _c(self.expr(a["expr"])),
            F.lit(a["pair_delimiter"]),
            F.lit(a["kv_delimiter"]),
        )
        for kname, ktype in a["keys"]:
            cols.append(
                F.element_at(m, F.lit(kname))
                .try_cast(kql_to_spark(ktype))
                .alias(kname)
            )
        return MeerkatTable(t.df.select(*cols))

    def ap_consume(self, t, a):
        """KQL consume: evaluate the pipeline, return an empty relation
        with the same schema (limit 0 — Catalyst still validates the
        full plan, matching Kusto's 'run but emit nothing')."""
        return MeerkatTable(t.df.limit(0))

    def ap_graph_to_table(self, t, a):
        """KQL graph-to-table: materialize the make-graph context.
        `edges` returns the edge list (optionally renaming the
        endpoint columns); `nodes` returns the nodes table when one
        was bound, else the DISTINCT union of edge endpoints — one
        shuffle on the node id, the minimal plan for endpoint
        discovery."""
        from meerkat_spark.table import MeerkatTable

        g = getattr(self, "_graph", None)
        if g is None:
            raise KqlSyntaxError("graph-to-table must follow make-graph")
        if a["what"] == "edges":
            out = g["edges"]
            if a.get("with_source_id"):
                out = out.withColumnRenamed(g["src"], a["with_source_id"])
            if a.get("with_target_id"):
                out = out.withColumnRenamed(g["dst"], a["with_target_id"])
            return MeerkatTable(out)
        node_id = a.get("with_node_id", "node_id")
        if g["nodes"] is not None:
            out = g["nodes"].withColumnRenamed(g["node_id"], node_id)
            return MeerkatTable(out)
        e = g["edges"]
        out = (
            e.select(F.col(g["src"]).alias(node_id))
            .unionByName(e.select(F.col(g["dst"]).alias(node_id)))
            .distinct()
        )
        return MeerkatTable(out)

    def ap_graph_match(self, t, a):
        """KQL graph-match (fixed-length directed path subset): an
        L-edge pattern compiles to L−1 edge-chain equi-joins plus one
        node-attribute join per distinct node variable — all ordinary
        shuffles/broadcasts Catalyst can reorder; repeated node
        variables become equality filters (cycles). Variable-length
        edges (-[e*1..3]->) are not supported (documented subset).
        Scale: identical join shape to the SQL a user would hand-write;
        no driver-side state, no iteration."""
        g = getattr(self, "_graph", None)
        if g is None:
            raise KqlSyntaxError("graph-match must follow make-graph")
        espec = a["edges"]
        ranged = [
            (i, e) for i, e in enumerate(espec) if e.get("min") is not None
        ]
        if len(ranged) > 1:
            raise KqlSyntaxError(
                "graph-match supports at most one variable-length edge"
            )
        if not ranged:
            out = self._graph_match_fixed(
                g, a["nodes"], [e["var"] for e in espec], a["pred"], a["cols"]
            )
        else:
            # bounded expansion: union of fixed-length patterns; the
            # starred variable itself is not referenceable (each length
            # binds fresh hop variables)
            idx, star = ranged[0]
            bad = {star["var"]}
            if _scan_refs_vars(a.get("pred"), bad) or _scan_refs_vars(
                [e for _n, e in a["cols"]], bad
            ):
                raise KqlSyntaxError(
                    "variable-length edge variable "
                    f"{star['var']!r} cannot be referenced in where/project"
                )
            outs = []
            for L in range(star["min"], star["max"] + 1):
                evars = (
                    [e["var"] for e in espec[:idx]]
                    + [f"{star['var']}__{j}" for j in range(L)]
                    + [e["var"] for e in espec[idx + 1 :]]
                )
                nvars = (
                    a["nodes"][: idx + 1]
                    + [f"__hop{j}" for j in range(L - 1)]
                    + a["nodes"][idx + 1 :]
                )
                outs.append(
                    self._graph_match_fixed(
                        g, nvars, evars, a["pred"], a["cols"]
                    )
                )
            out = outs[0]
            for o in outs[1:]:
                out = out.unionByName(o)
        self._graph = None
        return MeerkatTable(out)

    def _graph_match_fixed(self, g, nvars, evars, pred, cols) -> DataFrame:
        edges, src, dst = g["edges"], g["src"], g["dst"]
        nodes, nid = g["nodes"], g["node_id"]
        implied = nodes is None
        if implied:
            # implied node set: distinct endpoints, single field `id`
            nid = "id"
            nodes = (
                edges.select(F.col(src).alias("id"))
                .unionByName(edges.select(F.col(dst).alias("id")))
                .distinct()
            )
        if len(set(evars)) != len(evars):
            raise KqlSyntaxError("graph-match edge variables must be distinct")
        if set(evars) & set(nvars):
            raise KqlSyntaxError("edge and node variables must not overlap")
        df = None
        for k, ev in enumerate(evars):
            leg = edges.select(
                F.struct(*[F.col(c) for c in edges.columns]).alias(ev)
            )
            if df is None:
                df = leg
            else:
                df = df.join(
                    leg,
                    F.col(f"{evars[k - 1]}.{dst}") == F.col(f"{ev}.{src}"),
                    "inner",
                )

        def endpoint(pos: int):
            if pos == 0:
                return F.col(f"{evars[0]}.{src}")
            return F.col(f"{evars[pos - 1]}.{dst}")

        seen: set[str] = set()
        for pos, nv in enumerate(nvars):
            if nv.startswith("__hop") and implied:
                # anonymous expansion hop over the implied node set:
                # membership is a tautology — skip the join
                continue
            if nv in seen:
                # repeated node variable = cycle constraint
                df = df.filter(endpoint(pos) == F.col(f"{nv}.{nid}"))
            else:
                leg = nodes.select(
                    F.struct(*[F.col(c) for c in nodes.columns]).alias(nv)
                )
                df = df.join(
                    leg, endpoint(pos) == F.col(f"{nv}.{nid}"), "inner"
                )
                seen.add(nv)
        saved = self._cur_schema
        self._cur_schema = df.schema
        try:
            if pred is not None:
                df = df.filter(_c(self.expr(pred)))
            out_cols = [
                _c(self.expr(e)).alias(name or f"Column{i + 1}")
                for i, (name, e) in enumerate(cols)
            ]
            return df.select(*out_cols)
        finally:
            self._cur_schema = saved

    def ap_render(self, t, a):
        """render: presentation no-op — table passes through."""
        return t

    def ap_graph_shortest_paths(self, t, a):
        """KQL graph-shortest-paths (output=any subset): bounded-hop
        BFS (operators/graph.py — frontier expansion with a visited
        anti-join, one shuffle per level, lineage truncated per round).
        Node variables bind to node attributes; the edge variable binds
        to a struct {hops, path} (the witness path — Kusto's path
        functions map()/inner_nodes() are not rebuilt; documented
        subset). output=all (all shortest paths per pair) is not
        supported — the BFS keeps one deterministic witness."""
        g = getattr(self, "_graph", None)
        if g is None:
            raise KqlSyntaxError("graph-shortest-paths must follow make-graph")
        if a["output"] not in ("any",):
            raise KqlSyntaxError(
                "graph-shortest-paths supports output=any only (one "
                "deterministic shortest path per pair)"
            )
        from meerkat_spark.operators.graph import shortest_paths

        edges, src, dst = g["edges"], g["src"], g["dst"]
        nodes, nid = g["nodes"], g["node_id"]
        if nodes is None:
            nid = "id"
            nodes = (
                edges.select(F.col(src).alias("id"))
                .unionByName(edges.select(F.col(dst).alias("id")))
                .distinct()
            )
        sp = shortest_paths(edges, src, dst, max_hops=a["max"]).filter(
            F.col("hops") >= a["min"]
        )
        sv, tv, ev = a["src_var"], a["dst_var"], a["edge_var"]
        if len({sv, tv, ev}) != 3:
            raise KqlSyntaxError("graph-shortest-paths variables must be distinct")
        df = sp.select(
            F.struct(F.col("hops"), F.col("path")).alias(ev),
            "start_id",
            "end_id",
        )
        sleg = nodes.select(
            F.struct(*[F.col(c) for c in nodes.columns]).alias(sv),
            F.col(nid).cast("string").alias("__sid"),
        )
        tleg = nodes.select(
            F.struct(*[F.col(c) for c in nodes.columns]).alias(tv),
            F.col(nid).cast("string").alias("__tid"),
        )
        df = (
            df.join(sleg, df["start_id"] == sleg["__sid"], "inner")
            .join(tleg, df["end_id"] == tleg["__tid"], "inner")
            .drop("__sid", "__tid", "start_id", "end_id")
        )
        self._graph = None
        saved = self._cur_schema
        self._cur_schema = df.schema
        try:
            if a["pred"] is not None:
                df = df.filter(_c(self.expr(a["pred"])))
            out_cols = [
                _c(self.expr(e)).alias(name or f"Column{i + 1}")
                for i, (name, e) in enumerate(a["cols"])
            ]
            return MeerkatTable(df.select(*out_cols))
        finally:
            self._cur_schema = saved

    def ap_reduce(self, t, a):
        """KQL `reduce by` — cluster similar strings into patterns.
        Kusto's algorithm is a proprietary heuristic; this variant is
        EXACT and deterministic: the pattern replaces every digit run
        and every ≥16-char word-token run (ids/hashes) with '*'.
        Output mirrors Kusto's shape: (Pattern, Count, Representative).
        Scale: one groupBy on the derived pattern — map-side combine,
        pattern cardinality ≪ row count."""
        col = a["col"]
        pat = F.regexp_replace(F.col(col), r"\d+", "*")
        pat = F.regexp_replace(pat, r"\w{16,}", "*")
        out = (
            t.to_df()
            .withColumn("__pat", pat)
            .groupBy(F.col("__pat").alias("Pattern"))
            .agg(
                F.count(F.lit(1)).alias("Count"),
                F.min(col).alias("Representative"),
            )
        )
        return MeerkatTable(out)

    def ap_scan(self, t, a):
        """KQL `scan` (greedy non-overlapping subset, operators/scan.py):
        steps advance over the serialized order; completed sequences
        emit their rows with a match id + step_index. Like the row_*
        window functions, grammar-level scan runs over ONE ordered
        stream (KQL semantics) — the per-key parallel form is
        scan_steps(partition_by=…), exercised by suite scan_funnel."""
        from pyspark.sql import Window as W

        from meerkat_spark.operators.scan import scan_steps

        if not self.serialize_order:
            raise KqlSyntaxError(
                "scan requires a serialized table — add `| serialize` "
                "or `| sort by …` first"
            )
        df = t.to_df().withColumn(
            "__scan_ord", F.row_number().over(W.orderBy(*self.serialize_order))
        )
        from meerkat_spark.types import kql_to_spark

        decl = {
            v: kql_to_spark(t).simpleString() for v, t in a.get("declare", [])
        }
        # Split each step predicate: var-free conjuncts stay JVM-side
        # (codegen gate), conjuncts referencing declared variables are
        # compiled to python residuals evaluated inside the machine.
        decl_names = set(decl)
        in_cols = set(df.columns)
        preds: list[Column] = []
        py_preds: list = []
        for _name, past in a["steps"]:
            conjs = _scan_split_and(past)
            free = [c for c in conjs if not _scan_refs_vars(c, decl_names)]
            dep = [c for c in conjs if _scan_refs_vars(c, decl_names)]
            gate = _c(self.expr(free[0])) if free else F.lit(True)
            for c in free[1:]:
                gate = gate & _c(self.expr(c))
            preds.append(gate)
            if dep:
                fns = [
                    _scan_compile_pypred(c, decl_names, in_cols) for c in dep
                ]
                py_preds.append(
                    (lambda _fns: lambda row, vars: all(
                        f(row, vars) for f in _fns
                    ))(fns)
                )
            else:
                py_preds.append(None)
        # Assignments split like predicates: var-free values precompute
        # JVM-side (codegen), var-REFERENCING ones (`k = k + 1`, the
        # Kusto accumulator form — r15) compile to python evaluated
        # inside the machine against the sequence's current variables.
        step_assign = []
        step_py_assign = []
        for step_a in a.get("assigns") or [[] for _ in preds]:
            jvm: dict[str, Column] = {}
            pyd: dict = {}
            for v, e in step_a:
                if _scan_refs_vars(e, decl_names):
                    pyd[v] = _scan_compile_pyexpr(e, decl_names, in_cols)
                else:
                    jvm[v] = _c(self.expr(e))
            step_assign.append(jvm)
            step_py_assign.append(pyd)
        # `declare (k:long = 0)` defaults (r15): evaluated to PYTHON
        # literals at translate time — each sequence's variables start
        # at the default instead of null
        init = {}
        for v, e in (a.get("declare_defaults") or {}).items():
            val = _raw(self.expr(e))
            if (
                isinstance(val, float)
                and val.is_integer()
                and decl.get(v) in ("tinyint", "smallint", "int", "bigint")
            ):
                val = int(val)  # NUMBER tokens lex as float; long defaults
            init[v] = val
        out = scan_steps(
            df,
            steps=preds,
            order_by=["__scan_ord"],
            match_id_col=a["match_id"],
            step_output=a.get("outputs"),
            declare=decl or None,
            declare_init=init or None,
            step_assign=step_assign if any(step_assign) else None,
            concurrent=a.get("kind") == "concurrent",
            concurrent_partials=int(a.get("partials", 1)),
            step_py_preds=py_preds if any(py_preds) else None,
            step_py_assigns=step_py_assign if any(step_py_assign) else None,
        ).drop("__scan_ord")
        return MeerkatTable(out)

    def ap_serialize(self, t, a):
        if self.serialize_order is None:
            # freeze the current (arbitrary) order: materialize a row id
            df = t.df.withColumn("__serial", F.monotonically_increasing_id())
            self.serialize_order = [F.col("__serial").asc()]
            t = MeerkatTable(df)
        for name, e in a.get("cols") or []:
            # assignments see the serialized order (window funcs work)
            t = t.extend(**{name or "Column1": _c(self.expr(e))})
        return t


def _colify_pred(x: Any) -> Any:
    return F.lit(x) if isinstance(x, bool) else x


def _collect_idents(node: Any) -> set[str]:
    """Column names referenced by an expression AST (recursive walk over
    dataclass fields; Call func names and $side refs excluded)."""
    import dataclasses

    out: set[str] = set()
    if isinstance(node, P.Ident):
        if not node.name.startswith("$") and node.name != "*":
            out.add(node.name)
        return out
    if isinstance(node, P.Call):
        for a in node.args:
            out |= _collect_idents(a)
        return out
    if dataclasses.is_dataclass(node) and not isinstance(node, type):
        for f in dataclasses.fields(node):
            out |= _collect_idents(getattr(node, f.name))
        return out
    if isinstance(node, (list, tuple)):
        for x in node:
            out |= _collect_idents(x)
    return out


def _default_agg_name(e: Any, i: int) -> str:
    if isinstance(e, P.Call):
        if e.args and isinstance(e.args[0], P.Ident):
            return f"{e.func}_{e.args[0].name}"
        return f"{e.func}_"
    return f"agg{i}"


def _default_key_name(e: Any, i: int) -> str:
    if isinstance(e, P.Ident):
        return e.name
    if isinstance(e, P.Call) and e.args and isinstance(e.args[0], P.Ident):
        return e.args[0].name
    return f"key{i}"


def execute_kql(engine, text: str) -> DataFrame:
    """Parse + translate one KQL pipeline. materialize() caches from the
    PREVIOUS query are released here (the result DataFrame is lazy, so
    this query's own caches must outlive the call — they are handed to
    the engine and dropped on the next query or an explicit
    engine.clear_materialized())."""
    engine.clear_materialized()
    q = P.parse_kql(text)
    tr = Translator(engine, q.lets)
    try:
        out = tr.pipeline(q.pipeline)
    except BaseException:
        # a failed translation must not strand persist() registrations
        # (nobody would hold a reference to unpersist them later)
        for df in tr.persisted:
            try:
                df.unpersist()
            except Exception:
                pass
        raise
    engine._kql_persisted = tr.persisted
    return out


# --- scan: variable-dependent step predicates (python residual) -------------
# Kusto's scan allows declared variables inside step conditions. The
# JVM cannot evaluate those (variable values are sequence state, not
# columns), so ap_scan splits each step predicate's top-level AND into
# a var-free conjunct (precomputed JVM-side, the cheap gate) and a
# var-dependent residual compiled here into a picklable
# (row: dict, vars: dict) -> bool closure, run inside the (already
# sequential) scan machine only on rows that passed the JVM gate.

def _scan_split_and(node: Any) -> list:
    if isinstance(node, P.Binary) and node.op == "and":
        return _scan_split_and(node.left) + _scan_split_and(node.right)
    return [node]


def _scan_refs_vars(node: Any, names: set) -> bool:
    import dataclasses as _dc

    if isinstance(node, P.Ident):
        return node.name in names
    if _dc.is_dataclass(node) and not isinstance(node, type):
        return any(
            _scan_refs_vars(getattr(node, f.name), names) for f in _dc.fields(node)
        )
    if isinstance(node, (list, tuple)):
        return any(_scan_refs_vars(x, names) for x in node)
    return False


def _pv_isnull(x: Any) -> bool:
    if x is None:
        return True
    try:
        import pandas as _pd

        return bool(_pd.isna(x))
    except (TypeError, ValueError):
        return False


def _pv_add(a: Any, b: Any) -> Any:
    import datetime as _dt

    if _pv_isnull(a) or _pv_isnull(b):
        return None
    # timespans are seconds-valued in this engine (SURVEY §2.2.3)
    if isinstance(a, _dt.datetime) and isinstance(b, (int, float)):
        return a + _dt.timedelta(seconds=float(b))
    if isinstance(b, _dt.datetime) and isinstance(a, (int, float)):
        return b + _dt.timedelta(seconds=float(a))
    return a + b


def _pv_sub(a: Any, b: Any) -> Any:
    import datetime as _dt

    if _pv_isnull(a) or _pv_isnull(b):
        return None
    if isinstance(a, _dt.datetime) and isinstance(b, _dt.datetime):
        return (a - b).total_seconds()
    if isinstance(a, _dt.datetime) and isinstance(b, (int, float)):
        return a - _dt.timedelta(seconds=float(b))
    return a - b


def _pv_cmp(op: str, a: Any, b: Any) -> bool:
    # KQL null tri-state collapses to 'no match' inside a predicate
    if _pv_isnull(a) or _pv_isnull(b):
        return False
    if op == "=~":
        return str(a).lower() == str(b).lower()
    if op == "!~":
        return str(a).lower() != str(b).lower()
    import operator as _op

    table = {
        "==": _op.eq, "!=": _op.ne, "<": _op.lt,
        "<=": _op.le, ">": _op.gt, ">=": _op.ge,
    }
    return bool(table[op](a, b))


def _scan_compile_pypred(node: Any, var_names: set, columns: set):
    """AST → (row, vars) -> bool: the var-dependent predicate residual
    (a bool-coerced _scan_compile_pyexpr)."""
    f = _scan_compile_pyexpr(node, var_names, columns)
    return lambda row, vars: bool(f(row, vars))


def _scan_compile_pyexpr(node: Any, var_names: set, columns: set):
    """AST → (row, vars) -> value. Supported: literals (incl. timespan/
    datetime), column & declared-variable refs, unary -/not, and/or,
    comparisons, + - * / % with datetime/timespan coercion, between,
    in/!in. Anything wider (function calls, dynamic access) raises —
    keep such subexpressions out of the var-dependent conjunct. Also
    compiles var-REFERENCING step assignments (`total = total + value`,
    Kusto's accumulator form — r15), which the JVM precompute cannot
    express because declared variables are not columns."""

    def comp(n: Any):
        if isinstance(n, P.Lit):
            v = n.value
            return lambda row, vars: v
        if isinstance(n, P.Timespan):
            s = n.seconds
            return lambda row, vars: s
        if isinstance(n, P.DateTimeLit):
            import pandas as _pd

            ts = _pd.Timestamp(n.text)
            return lambda row, vars: ts
        if isinstance(n, P.Ident):
            name = n.name
            if name in var_names:
                return lambda row, vars: vars.get(name)
            if name in columns:
                return lambda row, vars: row.get(name)
            raise KqlSyntaxError(
                f"scan predicate references unknown name {name!r} "
                "(not a declared variable or input column)"
            )
        if isinstance(n, P.Unary):
            f = comp(n.operand)
            if n.op == "-":
                return lambda row, vars: (
                    None if _pv_isnull(v := f(row, vars)) else -v
                )
            if n.op == "not":
                return lambda row, vars: not f(row, vars)
        if isinstance(n, P.Between):
            e, lo, hi = comp(n.expr), comp(n.low), comp(n.high)
            return lambda row, vars: (
                _pv_cmp("<=", lo(row, vars), e(row, vars))
                and _pv_cmp("<=", e(row, vars), hi(row, vars))
            )
        if isinstance(n, P.InList):
            e = comp(n.expr)
            vs = [comp(v) for v in n.values]
            neg, ci = n.negated, n.case_insensitive

            def _in(row, vars):
                x = e(row, vars)
                if _pv_isnull(x):
                    return False
                if ci:
                    x = str(x).lower()
                hit = any(
                    (str(v(row, vars)).lower() if ci else v(row, vars)) == x
                    for v in vs
                )
                return (not hit) if neg else hit

            return _in
        if isinstance(n, P.Binary):
            op = n.op
            lf, rf = comp(n.left), comp(n.right)
            if op == "and":
                return lambda row, vars: bool(lf(row, vars)) and bool(rf(row, vars))
            if op == "or":
                return lambda row, vars: bool(lf(row, vars)) or bool(rf(row, vars))
            if op in ("==", "!=", "<", "<=", ">", ">=", "=~", "!~"):
                return lambda row, vars: _pv_cmp(op, lf(row, vars), rf(row, vars))
            if op == "+":
                return lambda row, vars: _pv_add(lf(row, vars), rf(row, vars))
            if op == "-":
                return lambda row, vars: _pv_sub(lf(row, vars), rf(row, vars))
            if op in ("*", "/", "%"):

                def _ar(row, vars, _o=op, _l=lf, _r=rf):
                    x, y = _l(row, vars), _r(row, vars)
                    if _pv_isnull(x) or _pv_isnull(y):
                        return None
                    if _o == "*":
                        return x * y
                    if _o == "/":
                        return x / y if y else None
                    return x % y if y else None

                return _ar
        raise KqlSyntaxError(
            "scan: variable-dependent step predicates support literals, "
            "column/variable refs, comparisons, arithmetic, between and "
            f"in — got {type(n).__name__}"
        )

    return comp(node)

"""Transform primitive library — native Column expressions.

Parity targets: featuretools/primitives/standard/transform/* (see
SURVEY.md §2.5-2.6 for the file:line map). Everything here is a
Catalyst expression (whole-stage codegen); window/cumulative
primitives build on pyspark Window specs supplied by the context
(`uses_full_dataframe` in the reference — feature is computed over
all rows in time order, then instance-filtered).
"""

from __future__ import annotations

import math

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from featuretools_spark.primitives.base import (
    TransformContext,
    TransformPrimitive,
    transform_primitive,
)


def _ts_sec(c):
    """Epoch seconds from any timestamp flavor (NTZ-safe)."""
    return c.cast("timestamp").cast("double")


# ----------------------------------------------------------------------
# binary arithmetic / comparison / boolean (transform/binary/*, 29 files)
# pandas div-by-zero yields ±inf — replicate (Spark double / 0 is NULL).
# ----------------------------------------------------------------------
def _pandas_div(num, den):
    return F.when(
        den == 0,
        F.when(num > 0, F.lit(float("inf")))
        .when(num < 0, F.lit(float("-inf")))
        .otherwise(F.lit(float("nan"))),
    ).otherwise(num.cast("double") / den.cast("double"))


@transform_primitive
class AddNumeric(TransformPrimitive):
    name = "add_numeric"
    n_inputs = 2

    def expr(self, inputs, ctx):
        return inputs[0] + inputs[1]


@transform_primitive
class SubtractNumeric(TransformPrimitive):
    name = "subtract_numeric"
    n_inputs = 2

    def expr(self, inputs, ctx):
        return inputs[0] - inputs[1]


@transform_primitive
class MultiplyNumeric(TransformPrimitive):
    name = "multiply_numeric"
    n_inputs = 2

    def expr(self, inputs, ctx):
        return inputs[0] * inputs[1]


@transform_primitive
class DivideNumeric(TransformPrimitive):
    name = "divide_numeric"
    n_inputs = 2

    def expr(self, inputs, ctx):
        return _pandas_div(inputs[0], inputs[1])


@transform_primitive
class ModuloNumeric(TransformPrimitive):
    name = "modulo_numeric"
    n_inputs = 2

    def expr(self, inputs, ctx):
        # pandas % follows sign of divisor (python semantics), Spark's
        # follows dividend: emulate python modulo. Guard b==0 (ANSI mode
        # throws; pandas yields NaN).
        a, b = inputs[0].cast("double"), inputs[1].cast("double")
        return F.when(b == 0, F.lit(float("nan"))).otherwise(((a % b) + b) % b)


class _ScalarTransform(TransformPrimitive):
    def __init__(self, value=0):
        self.value = value


@transform_primitive
class AddNumericScalar(_ScalarTransform):
    name = "add_numeric_scalar"

    def expr(self, inputs, ctx):
        return inputs[0] + self.value


@transform_primitive
class SubtractNumericScalar(_ScalarTransform):
    name = "subtract_numeric_scalar"

    def expr(self, inputs, ctx):
        return inputs[0] - self.value


@transform_primitive
class ScalarSubtractNumericFeature(_ScalarTransform):
    name = "scalar_subtract_numeric_feature"

    def expr(self, inputs, ctx):
        return F.lit(self.value) - inputs[0]


@transform_primitive
class MultiplyNumericScalar(_ScalarTransform):
    name = "multiply_numeric_scalar"

    def expr(self, inputs, ctx):
        return inputs[0] * self.value


@transform_primitive
class DivideNumericScalar(_ScalarTransform):
    name = "divide_numeric_scalar"

    def expr(self, inputs, ctx):
        return _pandas_div(inputs[0], F.lit(self.value))


@transform_primitive
class DivideByFeature(_ScalarTransform):
    name = "divide_by_feature"

    def expr(self, inputs, ctx):
        return _pandas_div(F.lit(self.value), inputs[0])


@transform_primitive
class ModuloNumericScalar(_ScalarTransform):
    name = "modulo_numeric_scalar"

    def expr(self, inputs, ctx):
        a, b = inputs[0].cast("double"), F.lit(float(self.value))
        if float(self.value) == 0.0:
            return F.lit(float("nan"))
        return ((a % b) + b) % b


@transform_primitive
class ModuloByFeature(_ScalarTransform):
    """scalar % feature (reference transform/binary/
    modulo_by_feature.py:6-37): pandas `value % series` follows
    Python sign-of-divisor semantics, NaN on zero divisors."""

    name = "modulo_by_feature"

    def expr(self, inputs, ctx):
        a, b = F.lit(float(self.value)), inputs[0].cast("double")
        return F.when(b != 0, ((a % b) + b) % b).otherwise(
            F.lit(float("nan"))
        )


@transform_primitive
class And(TransformPrimitive):
    name = "and"
    n_inputs = 2
    input_kinds = ("boolean", "boolean")
    return_kind = "boolean"

    def expr(self, inputs, ctx):
        return inputs[0].cast("boolean") & inputs[1].cast("boolean")


@transform_primitive
class Or(TransformPrimitive):
    name = "or"
    n_inputs = 2
    input_kinds = ("boolean", "boolean")
    return_kind = "boolean"

    def expr(self, inputs, ctx):
        return inputs[0].cast("boolean") | inputs[1].cast("boolean")


@transform_primitive
class Not(TransformPrimitive):
    name = "not"
    input_kinds = ("boolean",)
    return_kind = "boolean"

    def expr(self, inputs, ctx):
        return ~inputs[0].cast("boolean")


@transform_primitive
class MultiplyBoolean(TransformPrimitive):
    name = "multiply_boolean"
    n_inputs = 2
    input_kinds = ("boolean", "boolean")
    return_kind = "boolean"

    def expr(self, inputs, ctx):
        return inputs[0].cast("boolean") & inputs[1].cast("boolean")


@transform_primitive
class MultiplyNumericBoolean(TransformPrimitive):
    name = "multiply_numeric_boolean"
    n_inputs = 2
    input_kinds = ("numeric", "boolean")

    def expr(self, inputs, ctx):
        return inputs[0] * inputs[1].cast("boolean").cast("int")


class _Compare(TransformPrimitive):
    n_inputs = 2
    input_kinds = ("any", "any")
    return_kind = "boolean"


@transform_primitive
class Equal(_Compare):
    name = "equal"

    def expr(self, inputs, ctx):
        return inputs[0] == inputs[1]


@transform_primitive
class NotEqual(_Compare):
    name = "not_equal"

    def expr(self, inputs, ctx):
        return inputs[0] != inputs[1]


@transform_primitive
class GreaterThan(_Compare):
    name = "greater_than"

    def expr(self, inputs, ctx):
        return inputs[0] > inputs[1]


@transform_primitive
class GreaterThanEqualTo(_Compare):
    name = "greater_than_equal_to"

    def expr(self, inputs, ctx):
        return inputs[0] >= inputs[1]


@transform_primitive
class LessThan(_Compare):
    name = "less_than"

    def expr(self, inputs, ctx):
        return inputs[0] < inputs[1]


@transform_primitive
class LessThanEqualTo(_Compare):
    name = "less_than_equal_to"

    def expr(self, inputs, ctx):
        return inputs[0] <= inputs[1]


class _CompareScalar(TransformPrimitive):
    return_kind = "boolean"

    def __init__(self, value=0):
        self.value = value


@transform_primitive
class GreaterThanScalar(_CompareScalar):
    name = "greater_than_scalar"

    def expr(self, inputs, ctx):
        return inputs[0] > self.value


@transform_primitive
class GreaterThanEqualToScalar(_CompareScalar):
    name = "greater_than_equal_to_scalar"

    def expr(self, inputs, ctx):
        return inputs[0] >= self.value


@transform_primitive
class LessThanScalar(_CompareScalar):
    name = "less_than_scalar"

    def expr(self, inputs, ctx):
        return inputs[0] < self.value


@transform_primitive
class LessThanEqualToScalar(_CompareScalar):
    name = "less_than_equal_to_scalar"

    def expr(self, inputs, ctx):
        return inputs[0] <= self.value


@transform_primitive
class EqualScalar(_CompareScalar):
    name = "equal_scalar"

    def expr(self, inputs, ctx):
        return inputs[0] == self.value


@transform_primitive
class NotEqualScalar(_CompareScalar):
    name = "not_equal_scalar"

    def expr(self, inputs, ctx):
        return inputs[0] != self.value


# ----------------------------------------------------------------------
# unary numeric
# ----------------------------------------------------------------------
@transform_primitive
class Absolute(TransformPrimitive):
    name = "absolute"

    def expr(self, inputs, ctx):
        return F.abs(inputs[0])


@transform_primitive
class Negate(TransformPrimitive):
    name = "negate"

    def expr(self, inputs, ctx):
        return -inputs[0]


@transform_primitive
class SquareRoot(TransformPrimitive):
    name = "square_root"

    def expr(self, inputs, ctx):
        return F.sqrt(inputs[0].cast("double"))


@transform_primitive
class NaturalLogarithm(TransformPrimitive):
    name = "natural_logarithm"

    def expr(self, inputs, ctx):
        # pandas np.log(0) = -inf, np.log(neg) = nan; Spark ln(<=0)=NULL
        x = inputs[0].cast("double")
        return (
            F.when(x > 0, F.log(x))
            .when(x == 0, F.lit(float("-inf")))
            .when(x < 0, F.lit(float("nan")))
        )


@transform_primitive
class Sine(TransformPrimitive):
    name = "sine"

    def expr(self, inputs, ctx):
        return F.sin(inputs[0].cast("double"))


@transform_primitive
class Cosine(TransformPrimitive):
    name = "cosine"

    def expr(self, inputs, ctx):
        return F.cos(inputs[0].cast("double"))


@transform_primitive
class Tangent(TransformPrimitive):
    name = "tangent"

    def expr(self, inputs, ctx):
        return F.tan(inputs[0].cast("double"))


@transform_primitive
class AbsoluteDiff(TransformPrimitive):
    name = "absolute_diff"
    n_inputs = 2

    def expr(self, inputs, ctx):
        return F.abs(inputs[0] - inputs[1])


@transform_primitive
class IsNull(TransformPrimitive):
    name = "is_null"
    input_kinds = ("any",)
    return_kind = "boolean"

    def expr(self, inputs, ctx):
        return inputs[0].isNull()


@transform_primitive
class IsIn(TransformPrimitive):
    name = "isin"
    input_kinds = ("any",)
    return_kind = "boolean"

    def __init__(self, list_of_outputs=None):
        self.list_of_outputs = list_of_outputs or []

    def expr(self, inputs, ctx):
        return inputs[0].isin(self.list_of_outputs)


# ----------------------------------------------------------------------
# datetime (transform/datetime/*, 32 files)
# ----------------------------------------------------------------------
class _DT(TransformPrimitive):
    input_kinds = ("datetime",)


@transform_primitive
class Year(_DT):
    name = "year"

    def expr(self, inputs, ctx):
        return F.year(inputs[0])


@transform_primitive
class Month(_DT):
    name = "month"

    def expr(self, inputs, ctx):
        return F.month(inputs[0])


@transform_primitive
class Day(_DT):
    name = "day"

    def expr(self, inputs, ctx):
        return F.dayofmonth(inputs[0])


@transform_primitive
class Hour(_DT):
    name = "hour"

    def expr(self, inputs, ctx):
        return F.hour(inputs[0])


@transform_primitive
class Minute(_DT):
    name = "minute"

    def expr(self, inputs, ctx):
        return F.minute(inputs[0])


@transform_primitive
class Second(_DT):
    name = "second"

    def expr(self, inputs, ctx):
        return F.second(inputs[0])


@transform_primitive
class Week(_DT):
    name = "week"

    def expr(self, inputs, ctx):
        # pandas .isocalendar().week
        return F.weekofyear(inputs[0])


@transform_primitive
class Weekday(_DT):
    name = "weekday"

    def expr(self, inputs, ctx):
        # pandas .weekday: Monday=0..Sunday=6; Spark dayofweek: Sunday=1
        return (F.dayofweek(inputs[0]) + 5) % 7


@transform_primitive
class DayOfYear(_DT):
    name = "day_of_year"

    def expr(self, inputs, ctx):
        return F.dayofyear(inputs[0])


@transform_primitive
class DaysInMonth(_DT):
    name = "days_in_month"

    def expr(self, inputs, ctx):
        return F.dayofmonth(F.last_day(inputs[0]))


@transform_primitive
class Quarter(_DT):
    name = "quarter"

    def expr(self, inputs, ctx):
        return F.quarter(inputs[0])


@transform_primitive
class IsLeapYear(_DT):
    name = "is_leap_year"
    return_kind = "boolean"

    def expr(self, inputs, ctx):
        y = F.year(inputs[0])
        return ((y % 4 == 0) & (y % 100 != 0)) | (y % 400 == 0)


@transform_primitive
class IsMonthEnd(_DT):
    name = "is_month_end"
    return_kind = "boolean"

    def expr(self, inputs, ctx):
        return F.to_date(inputs[0]) == F.last_day(inputs[0])


@transform_primitive
class IsMonthStart(_DT):
    name = "is_month_start"
    return_kind = "boolean"

    def expr(self, inputs, ctx):
        return F.dayofmonth(inputs[0]) == 1


@transform_primitive
class IsQuarterEnd(_DT):
    name = "is_quarter_end"
    return_kind = "boolean"

    def expr(self, inputs, ctx):
        d = F.to_date(inputs[0])
        return d == F.last_day(F.date_trunc("quarter", inputs[0]) + F.expr("INTERVAL 2 MONTH"))


@transform_primitive
class IsQuarterStart(_DT):
    name = "is_quarter_start"
    return_kind = "boolean"

    def expr(self, inputs, ctx):
        return F.to_date(inputs[0]) == F.to_date(F.date_trunc("quarter", inputs[0]))


@transform_primitive
class IsYearEnd(_DT):
    name = "is_year_end"
    return_kind = "boolean"

    def expr(self, inputs, ctx):
        return (F.month(inputs[0]) == 12) & (F.dayofmonth(inputs[0]) == 31)


@transform_primitive
class IsYearStart(_DT):
    name = "is_year_start"
    return_kind = "boolean"

    def expr(self, inputs, ctx):
        return (F.month(inputs[0]) == 1) & (F.dayofmonth(inputs[0]) == 1)


@transform_primitive
class IsWeekend(_DT):
    name = "is_weekend"
    return_kind = "boolean"

    def expr(self, inputs, ctx):
        return F.dayofweek(inputs[0]).isin(1, 7)  # Sunday=1, Saturday=7


@transform_primitive
class IsWorkingHours(_DT):
    name = "is_working_hours"
    return_kind = "boolean"

    def __init__(self, start_hour=8, end_hour=18):
        self.start_hour, self.end_hour = start_hour, end_hour

    def expr(self, inputs, ctx):
        h = F.hour(inputs[0])
        return (h >= self.start_hour) & (h <= self.end_hour)


@transform_primitive
class IsLunchTime(_DT):
    name = "is_lunch_time"
    return_kind = "boolean"

    def __init__(self, lunch_hour=12):
        self.lunch_hour = lunch_hour

    def expr(self, inputs, ctx):
        return F.hour(inputs[0]) == self.lunch_hour


@transform_primitive
class PartOfDay(_DT):
    name = "part_of_day"
    return_kind = "category"

    def expr(self, inputs, ctx):
        h = F.hour(inputs[0])
        return (
            F.when((h >= 0) & (h < 5), "night")
            .when((h >= 5) & (h < 8), "early morning")
            .when((h >= 8) & (h < 12), "morning")
            .when((h >= 12) & (h < 14), "noon")
            .when((h >= 14) & (h < 17), "afternoon")
            .when((h >= 17) & (h < 20), "evening")
            .otherwise("late evening")
        )


@transform_primitive
class Season(_DT):
    name = "season"
    return_kind = "category"

    def expr(self, inputs, ctx):
        m = F.month(inputs[0])
        return (
            F.when(m.isin(12, 1, 2), "winter")
            .when(m.isin(3, 4, 5), "spring")
            .when(m.isin(6, 7, 8), "summer")
            .otherwise("fall")
        )


@transform_primitive
class Age(_DT):
    name = "age"
    uses_calc_time = True
    # reference age.py:29 — only Datetime columns tagged date_of_birth
    input_kinds = ("date_of_birth",)

    def expr(self, inputs, ctx):
        # reference age.py: (cutoff - birthday).days / 365
        days = F.datediff(F.to_date(ctx.cutoff), F.to_date(inputs[0]))
        return days.cast("double") / F.lit(365.0)


@transform_primitive
class TimeSince(_DT):
    name = "time_since"
    uses_calc_time = True

    def expr(self, inputs, ctx):
        return _ts_sec(ctx.cutoff) - _ts_sec(inputs[0])


@transform_primitive
class TimeSincePrevious(_DT):
    name = "time_since_previous"
    uses_full_dataframe = True

    def expr(self, inputs, ctx):
        w = ctx.window()
        return _ts_sec(inputs[0]) - _ts_sec(F.lag(inputs[0]).over(w))


@transform_primitive
class DiffDatetime(_DT):
    name = "diff_datetime"
    uses_full_dataframe = True

    def expr(self, inputs, ctx):
        w = ctx.window()
        return _ts_sec(inputs[0]) - _ts_sec(F.lag(inputs[0]).over(w))


# ----------------------------------------------------------------------
# text / NaturalLanguage (transform/natural_language/*, 18 files)
# ----------------------------------------------------------------------
class _Text(TransformPrimitive):
    input_kinds = ("text",)


@transform_primitive
class NumCharacters(_Text):
    name = "num_characters"

    def expr(self, inputs, ctx):
        return F.length(inputs[0])


@transform_primitive
class NumWords(_Text):
    name = "num_words"

    def expr(self, inputs, ctx):
        # reference num_words.py: len(s.split()) — whitespace runs
        t = F.trim(inputs[0])
        return F.when(t == "", 0).otherwise(
            F.size(F.split(t, r"\s+"))
        )


@transform_primitive
class CountString(_Text):
    name = "count_string"

    def __init__(self, string="", ignore_case=True, ignore_non_alphanumeric=False,
                 is_regex=False, match_whole_words_only=False):
        self.string = string
        self.ignore_case = ignore_case

    def expr(self, inputs, ctx):
        s = F.lower(inputs[0]) if self.ignore_case else inputs[0]
        pat = self.string.lower() if self.ignore_case else self.string
        import re as _re
        return F.regexp_count(s, F.lit(_re.escape(pat)))


@transform_primitive
class NumberOfHashtags(_Text):
    name = "number_of_hashtags"

    def expr(self, inputs, ctx):
        return F.regexp_count(inputs[0], F.lit(r"(?<=\s|^)#[a-zA-Z0-9_]+"))


@transform_primitive
class NumberOfMentions(_Text):
    name = "number_of_mentions"

    def expr(self, inputs, ctx):
        return F.regexp_count(inputs[0], F.lit(r"(?<=\s|^)@[a-zA-Z0-9_]+"))


@transform_primitive
class PunctuationCount(_Text):
    name = "punctuation_count"

    def expr(self, inputs, ctx):
        return F.regexp_count(inputs[0], F.lit(r"[!\"#$%&'()*+,\-./:;<=>?@\[\\\]^_`{|}~]"))


@transform_primitive
class UpperCaseCount(_Text):
    name = "upper_case_count"

    def expr(self, inputs, ctx):
        return F.regexp_count(inputs[0], F.lit("[A-Z]"))


@transform_primitive
class WhitespaceCount(_Text):
    name = "whitespace_count"

    def expr(self, inputs, ctx):
        return F.regexp_count(inputs[0], F.lit(" "))


@transform_primitive
class TitleWordCount(_Text):
    name = "title_word_count"

    def expr(self, inputs, ctx):
        return F.regexp_count(inputs[0], F.lit(r"\b[A-Z][a-z]*\b"))


@transform_primitive
class MeanCharactersPerWord(_Text):
    name = "mean_characters_per_word"

    def expr(self, inputs, ctx):
        words = F.split(F.trim(inputs[0]), r"\s+")
        total = F.aggregate(
            F.transform(words, lambda w: F.length(w)),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        return total.cast("double") / F.size(words)


@transform_primitive
class TotalWordLength(_Text):
    name = "total_word_length"

    def expr(self, inputs, ctx):
        words = F.split(F.trim(inputs[0]), r"\s+")
        return F.aggregate(
            F.transform(words, lambda w: F.length(w)),
            F.lit(0),
            lambda acc, x: acc + x,
        )


@transform_primitive
class NumberOfUniqueWords(_Text):
    name = "number_of_unique_words"

    def __init__(self, case_insensitive=False):
        self.case_insensitive = case_insensitive

    def expr(self, inputs, ctx):
        s = F.lower(inputs[0]) if self.case_insensitive else inputs[0]
        return F.size(F.array_distinct(F.split(F.trim(s), r"\s+")))


@transform_primitive
class MedianWordLength(_Text):
    name = "median_word_length"

    def expr(self, inputs, ctx):
        words = F.split(F.trim(inputs[0]), r"\s+")
        lens = F.array_sort(F.transform(words, lambda w: F.length(w)))
        n = F.size(lens)
        mid = (n / 2).cast("int")
        return F.when(
            n % 2 == 1, F.element_at(lens, mid + 1).cast("double")
        ).otherwise(
            (F.element_at(lens, mid) + F.element_at(lens, mid + 1)) / 2.0
        )


# ----------------------------------------------------------------------
# LatLong (transform/latlong/*) — LatLong = struct<lat:double,lng:double>
# ----------------------------------------------------------------------
class _LatLong(TransformPrimitive):
    input_kinds = ("latlong",)


@transform_primitive
class Latitude(_LatLong):
    name = "latitude"

    def expr(self, inputs, ctx):
        return inputs[0].getField("lat")


@transform_primitive
class Longitude(_LatLong):
    name = "longitude"

    def expr(self, inputs, ctx):
        return inputs[0].getField("lng")


@transform_primitive
class Haversine(_LatLong):
    name = "haversine"
    n_inputs = 2
    input_kinds = ("latlong", "latlong")

    def __init__(self, unit="miles"):
        self.unit = unit

    def expr(self, inputs, ctx):
        # reference haversine.py:11 — same formula, miles default
        lat1 = F.radians(inputs[0].getField("lat"))
        lng1 = F.radians(inputs[0].getField("lng"))
        lat2 = F.radians(inputs[1].getField("lat"))
        lng2 = F.radians(inputs[1].getField("lng"))
        dlat, dlng = lat2 - lat1, lng2 - lng1
        a = F.sin(dlat / 2) ** 2 + F.cos(lat1) * F.cos(lat2) * F.sin(dlng / 2) ** 2
        radius = 3958.7613 if self.unit == "miles" else 6371.0088
        return F.lit(2 * radius) * F.asin(F.sqrt(a))


@transform_primitive
class CityblockDistance(_LatLong):
    name = "cityblock_distance"
    n_inputs = 2
    input_kinds = ("latlong", "latlong")

    def __init__(self, unit="miles"):
        self.unit = unit

    def expr(self, inputs, ctx):
        radius = 3958.7613 if self.unit == "miles" else 6371.0088
        lat1, lat2 = inputs[0].getField("lat"), inputs[1].getField("lat")
        lng1, lng2 = inputs[0].getField("lng"), inputs[1].getField("lng")
        # haversine along latitude + along longitude (reference impl)
        def hav(p1lat, p1lng, p2lat, p2lng):
            rl1, rl2 = F.radians(p1lat), F.radians(p2lat)
            dlat = F.radians(p2lat - p1lat)
            dlng = F.radians(p2lng - p1lng)
            a = F.sin(dlat / 2) ** 2 + F.cos(rl1) * F.cos(rl2) * F.sin(dlng / 2) ** 2
            return F.lit(2 * radius) * F.asin(F.sqrt(a))
        return hav(lat1, lng1, lat2, lng1) + hav(lat2, lng1, lat2, lng2)


@transform_primitive
class GeoMidpoint(_LatLong):
    name = "geomidpoint"
    n_inputs = 2
    input_kinds = ("latlong", "latlong")
    return_kind = "latlong"

    def expr(self, inputs, ctx):
        return F.struct(
            ((inputs[0].getField("lat") + inputs[1].getField("lat")) / 2).alias("lat"),
            ((inputs[0].getField("lng") + inputs[1].getField("lng")) / 2).alias("lng"),
        )


@transform_primitive
class IsInGeoBox(_LatLong):
    name = "is_in_geobox"
    return_kind = "boolean"

    def __init__(self, point1=(0, 0), point2=(0, 0)):
        self.point1, self.point2 = point1, point2

    def expr(self, inputs, ctx):
        lat, lng = inputs[0].getField("lat"), inputs[0].getField("lng")
        lo_lat, hi_lat = sorted([self.point1[0], self.point2[0]])
        lo_lng, hi_lng = sorted([self.point1[1], self.point2[1]])
        return (lat >= lo_lat) & (lat <= hi_lat) & (lng >= lo_lng) & (lng <= hi_lng)


# ----------------------------------------------------------------------
# URL / email / path / postal / name (regex extraction)
# ----------------------------------------------------------------------
@transform_primitive
class URLToDomain(TransformPrimitive):
    name = "url_to_domain"
    input_kinds = ("url",)
    return_kind = "category"

    def expr(self, inputs, ctx):
        return F.regexp_extract(inputs[0], r"^(?:https?:\/\/)?(?:[^@\/\n]+@)?(?:www\.)?([^:\/\n?]+)", 1)


@transform_primitive
class URLToProtocol(TransformPrimitive):
    name = "url_to_protocol"
    input_kinds = ("url",)
    return_kind = "category"

    def expr(self, inputs, ctx):
        p = F.regexp_extract(inputs[0], r"^(https?)(?=:\/\/)", 1)
        return F.when(p != "", p)


@transform_primitive
class URLToTLD(TransformPrimitive):
    name = "url_to_tld"
    input_kinds = ("url",)
    return_kind = "category"

    def expr(self, inputs, ctx):
        dom = F.regexp_extract(inputs[0], r"^(?:https?:\/\/)?(?:[^@\/\n]+@)?(?:www\.)?([^:\/\n?]+)", 1)
        tld = F.element_at(F.split(dom, r"\."), -1)
        return F.when(tld != "", tld)


@transform_primitive
class EmailAddressToDomain(TransformPrimitive):
    name = "email_address_to_domain"
    input_kinds = ("email",)
    return_kind = "category"

    def expr(self, inputs, ctx):
        return F.element_at(F.split(inputs[0], "@"), 2)


@transform_primitive
class IsFreeEmailDomain(TransformPrimitive):
    name = "is_free_email_domain"
    input_kinds = ("email",)
    return_kind = "boolean"

    FREE = ("gmail.com", "yahoo.com", "hotmail.com", "outlook.com", "aol.com",
            "icloud.com", "mail.com", "protonmail.com", "yandex.com", "zoho.com")

    def expr(self, inputs, ctx):
        return F.element_at(F.split(inputs[0], "@"), 2).isin(*self.FREE)


@transform_primitive
class FileExtension(TransformPrimitive):
    name = "file_extension"
    input_kinds = ("file_path",)
    return_kind = "category"

    def expr(self, inputs, ctx):
        e = F.regexp_extract(F.lower(inputs[0]), r"(\.[a-z0-9]+)$", 1)
        return F.when(e != "", e)


@transform_primitive
class OneDigitPostalCode(TransformPrimitive):
    name = "one_digit_postal_code"
    input_kinds = ("postal_code",)
    return_kind = "category"

    def expr(self, inputs, ctx):
        return F.substring(inputs[0].cast("string"), 1, 1)


@transform_primitive
class TwoDigitPostalCode(TransformPrimitive):
    name = "two_digit_postal_code"
    input_kinds = ("postal_code",)
    return_kind = "category"

    def expr(self, inputs, ctx):
        return F.substring(inputs[0].cast("string"), 1, 2)


@transform_primitive
class FullNameToFirstName(TransformPrimitive):
    name = "full_name_to_first_name"
    input_kinds = ("person_full_name",)
    return_kind = "category"

    def expr(self, inputs, ctx):
        # reference: strip title, first token
        no_title = F.regexp_replace(inputs[0], r"^\s*(Mr\.|Mrs\.|Ms\.|Dr\.|Miss)\s+", "")
        return F.element_at(F.split(F.trim(no_title), r"\s+"), 1)


@transform_primitive
class FullNameToLastName(TransformPrimitive):
    name = "full_name_to_last_name"
    input_kinds = ("person_full_name",)
    return_kind = "category"

    def expr(self, inputs, ctx):
        return F.element_at(F.split(F.trim(inputs[0]), r"\s+"), -1)


@transform_primitive
class FullNameToTitle(TransformPrimitive):
    name = "full_name_to_title"
    input_kinds = ("person_full_name",)
    return_kind = "category"

    def expr(self, inputs, ctx):
        t = F.regexp_extract(inputs[0], r"^\s*(Mr|Mrs|Ms|Dr|Miss)\.?\s", 1)
        return F.when(t != "", t)


# ----------------------------------------------------------------------
# window / cumulative transforms (uses_full_dataframe — SURVEY §2.5)
# ----------------------------------------------------------------------
class _WindowTransform(TransformPrimitive):
    uses_full_dataframe = True


@transform_primitive
class Lag(_WindowTransform):
    name = "lag"
    input_kinds = ("any",)
    return_kind = "same"

    def __init__(self, periods=1):
        self.periods = periods

    def expr(self, inputs, ctx):
        return F.lag(inputs[0], self.periods).over(ctx.window())


@transform_primitive
class NumericLag(_WindowTransform):
    """Deprecated alias of Lag kept for reference name parity
    (transform/time_series/numeric_lag.py:9)."""

    name = "numeric_lag"

    def __init__(self, periods=1, fill_value=None):
        self.periods = periods
        self.fill_value = fill_value

    def expr(self, inputs, ctx):
        lagged = F.lag(inputs[0], self.periods).over(ctx.window())
        if self.fill_value is not None:
            lagged = F.coalesce(lagged, F.lit(self.fill_value))
        return lagged


@transform_primitive
class Diff(_WindowTransform):
    name = "diff"

    def __init__(self, periods=0):
        # reference diff.py: shift(periods).diff() — periods is an extra
        # pre-shift; plain Diff uses periods=0
        self.periods = periods

    def expr(self, inputs, ctx):
        w = ctx.window()
        shifted = F.lag(inputs[0], self.periods).over(w) if self.periods else inputs[0]
        return shifted - F.lag(shifted, 1).over(w)


@transform_primitive
class PercentChange(_WindowTransform):
    name = "percent_change"

    def __init__(self, periods=1):
        self.periods = periods

    def expr(self, inputs, ctx):
        w = ctx.window()
        prev = F.lag(inputs[0], self.periods).over(w)
        return _pandas_div(inputs[0] - prev, prev)


@transform_primitive
class RateOfChange(_WindowTransform):
    name = "rate_of_change"
    uses_full_dataframe = True

    def expr(self, inputs, ctx):
        w = ctx.window()
        prev_v = F.lag(inputs[0]).over(w)
        prev_t = F.lag(ctx.time).over(w)
        return (inputs[0] - prev_v).cast("double") / (
            _ts_sec(ctx.time) - _ts_sec(prev_t)
        )


@transform_primitive
class SameAsPrevious(_WindowTransform):
    name = "same_as_previous"
    return_kind = "boolean"

    def expr(self, inputs, ctx):
        return inputs[0] == F.lag(inputs[0]).over(ctx.window())


class _Cum(_WindowTransform):
    def _frame(self, ctx):
        return ctx.window().rowsBetween(W.unboundedPreceding, 0)


@transform_primitive
class CumSum(_Cum):
    name = "cum_sum"

    def expr(self, inputs, ctx):
        # pandas cumsum keeps NaN at NaN slots but skips them in the sum
        return F.when(
            inputs[0].isNotNull(), F.sum(inputs[0]).over(self._frame(ctx))
        )


@transform_primitive
class CumMax(_Cum):
    name = "cum_max"

    def expr(self, inputs, ctx):
        return F.when(
            inputs[0].isNotNull(), F.max(inputs[0]).over(self._frame(ctx))
        )


@transform_primitive
class CumMin(_Cum):
    name = "cum_min"

    def expr(self, inputs, ctx):
        return F.when(
            inputs[0].isNotNull(), F.min(inputs[0]).over(self._frame(ctx))
        )


@transform_primitive
class CumMean(_Cum):
    name = "cum_mean"

    def expr(self, inputs, ctx):
        # reference cum_mean.py: cumsum / cumcount-of-all-rows (count
        # includes every prior row, pandas .cumsum()/np.arange semantics)
        w = self._frame(ctx)
        return F.when(
            inputs[0].isNotNull(),
            F.sum(inputs[0]).over(w) / F.count(F.lit(1)).over(w),
        )


@transform_primitive
class CumCount(_Cum):
    name = "cum_count"
    input_kinds = ("any",)
    default_value = 0

    def expr(self, inputs, ctx):
        return F.count(inputs[0]).over(self._frame(ctx))


@transform_primitive
class CumulativeTimeSinceLastTrue(_Cum):
    name = "cumulative_time_since_last_true"
    input_kinds = ("boolean",)

    def expr(self, inputs, ctx):
        w = self._frame(ctx)
        last_true_t = F.max(F.when(inputs[0].cast("boolean"), ctx.time)).over(w)
        return _ts_sec(ctx.time) - _ts_sec(last_true_t)


@transform_primitive
class CumulativeTimeSinceLastFalse(_Cum):
    name = "cumulative_time_since_last_false"
    input_kinds = ("boolean",)

    def expr(self, inputs, ctx):
        w = self._frame(ctx)
        last_false_t = F.max(F.when(~inputs[0].cast("boolean"), ctx.time)).over(w)
        return _ts_sec(ctx.time) - _ts_sec(last_false_t)


@transform_primitive
class Percentile(_WindowTransform):
    name = "percentile"

    def expr(self, inputs, ctx):
        # pandas rank(pct=True): rank (average method) / non-null count
        from pyspark.sql import Window as _W
        w = (
            _W.partitionBy(*ctx.partition_cols)
            if ctx.partition_cols
            else _W.partitionBy()
        )
        vw = w.orderBy(inputs[0].asc_nulls_last())
        # average-method rank = (rank + (rank + count_of_equal - 1)) / 2
        r = F.rank().over(vw)
        cnt_eq = F.count(F.lit(1)).over(w.partitionBy(*ctx.partition_cols, inputs[0]) if ctx.partition_cols else _W.partitionBy(inputs[0]))
        n = F.count(inputs[0]).over(w)
        avg_rank = (r + (r + cnt_eq - 1)) / 2.0
        return F.when(inputs[0].isNotNull(), avg_rank / n)


class _Rolling(_WindowTransform):
    """Rolling window over a trailing `window_length` ending `gap`
    before the current row (reference time_series/rolling_*.py,
    roll_series_with_gap utils.py:10-60).

    window_length/gap as ints → row-based frame (rowsBetween);
    as duration strings ("3 days") → time-based frame (rangeBetween
    over epoch-micros ordering), matching the reference's offset path.
    """

    def __init__(self, window_length=3, gap=0, min_periods=1):
        self.window_length = window_length
        self.gap = gap
        self.min_periods = int(min_periods) if min_periods else 1

    def _is_time_based(self):
        return isinstance(self.window_length, str) or isinstance(self.gap, str)

    def _frame(self, ctx):
        from featuretools_spark.timedelta import Timedelta
        from pyspark.sql import Window as _W

        if not self._is_time_based():
            lo = -(int(self.gap) + int(self.window_length)) + 1
            hi = -int(self.gap)
            return ctx.window().rowsBetween(lo, hi)
        length_us = int(Timedelta.parse(self.window_length).to_seconds() * 1e6)
        gap_us = (
            int(Timedelta.parse(self.gap).to_seconds() * 1e6)
            if isinstance(self.gap, str) or self.gap
            else 0
        )
        w = (
            _W.partitionBy(*ctx.partition_cols)
            if ctx.partition_cols
            else _W.partitionBy()
        )
        ordered = w.orderBy(F.unix_micros(ctx.time.cast("timestamp")))
        # window covers (t - gap - length, t - gap]
        return ordered.rangeBetween(-(gap_us + length_us) + 1, -gap_us)

    _agg = None

    def expr(self, inputs, ctx):
        w = self._frame(ctx)
        val = self._agg(inputs[0], w)
        if self.min_periods:
            return F.when(F.count(inputs[0]).over(w) >= self.min_periods, val)
        return val


@transform_primitive
class RollingMean(_Rolling):
    name = "rolling_mean"

    def _agg(self, c, w):
        return F.avg(c).over(w)


@transform_primitive
class RollingMax(_Rolling):
    name = "rolling_max"

    def _agg(self, c, w):
        return F.max(c).over(w)


@transform_primitive
class RollingMin(_Rolling):
    name = "rolling_min"

    def _agg(self, c, w):
        return F.min(c).over(w)


@transform_primitive
class RollingSTD(_Rolling):
    name = "rolling_std"

    def __init__(self, window_length=3, gap=0, min_periods=1):
        super().__init__(window_length, gap, min_periods)

    def _agg(self, c, w):
        # pandas rolling().std() default ddof=1 (sample)
        return F.stddev_samp(c).over(w)


@transform_primitive
class RollingCount(_Rolling):
    name = "rolling_count"
    input_kinds = ("any",)

    def expr(self, inputs, ctx):
        w = self._frame(ctx)
        val = F.count(inputs[0]).over(w)
        if self.min_periods:
            return F.when(val >= self.min_periods, val)
        return val


@transform_primitive
class RollingTrend(_Rolling):
    name = "rolling_trend"

    def expr(self, inputs, ctx):
        w = self._frame(ctx)
        y = inputs[0].cast("double")
        x = _ts_sec(ctx.time) / F.lit(86400.0)
        n = F.count(y).over(w)
        cov = F.covar_pop(x, y).over(w)
        var = F.var_pop(F.when(y.isNotNull(), x)).over(w)
        mp = max(self.min_periods, 2)
        return F.when((n >= mp) & (var > 0), cov / var)


class _Expanding(_WindowTransform):
    """Expanding window ending `gap` rows before the current row
    (reference time_series/expanding/*; gap shift utils.py:259-268)."""

    def __init__(self, gap=1, min_periods=1):
        self.gap = int(gap)
        self.min_periods = int(min_periods) if min_periods else 1

    def _frame(self, ctx):
        return ctx.window().rowsBetween(W.unboundedPreceding, -self.gap)

    _agg = None

    def expr(self, inputs, ctx):
        w = self._frame(ctx)
        val = self._agg(inputs[0], w)
        return F.when(F.count(inputs[0]).over(w) >= self.min_periods, val)


@transform_primitive
class ExpandingMean(_Expanding):
    name = "expanding_mean"

    def _agg(self, c, w):
        return F.avg(c).over(w)


@transform_primitive
class ExpandingMax(_Expanding):
    name = "expanding_max"

    def _agg(self, c, w):
        return F.max(c).over(w)


@transform_primitive
class ExpandingMin(_Expanding):
    name = "expanding_min"

    def _agg(self, c, w):
        return F.min(c).over(w)


@transform_primitive
class ExpandingSTD(_Expanding):
    name = "expanding_std"

    def _agg(self, c, w):
        return F.stddev_samp(c).over(w)


@transform_primitive
class ExpandingCount(_Expanding):
    name = "expanding_count"
    input_kinds = ("any",)

    def expr(self, inputs, ctx):
        w = self._frame(ctx)
        val = F.count(inputs[0]).over(w)
        return F.when(val >= self.min_periods, val)


@transform_primitive
class ExpandingTrend(_Expanding):
    name = "expanding_trend"

    def expr(self, inputs, ctx):
        w = self._frame(ctx)
        y = inputs[0].cast("double")
        x = _ts_sec(ctx.time) / F.lit(86400.0)
        n = F.count(y).over(w)
        cov = F.covar_pop(x, y).over(w)
        var = F.var_pop(F.when(y.isNotNull(), x)).over(w)
        mp = max(self.min_periods, 2)
        return F.when((n >= mp) & (var > 0), cov / var)


# ----------------------------------------------------------------------
# pandas-kernel transforms (no Spark builtin): EWM family, savgol,
# rolling outlier count. Executed by cfm._apply_pandas_transform over
# the partition columns (the EWM family as numpy scans in ewm.py, the
# others through .pandas(); the reference computes these on the full
# column too — exponential/exponential_weighted_average.py:7,
# savgol_filter.py:11, time_series/rolling_outlier_count.py:13).
# ----------------------------------------------------------------------
class _PandasKernelTransform(TransformPrimitive):
    uses_full_dataframe = True
    strategy = "pandas"

    def pandas(self, pdf, in_cols, out_col, order_cols):
        raise NotImplementedError


class _EWMBase(_PandasKernelTransform):
    """pandas ``Series.ewm(adjust=True).<kind>()`` over the ordered
    column; evaluated by the vectorized scans in ewm.py, never through
    a pandas frame."""

    kind = None  # "mean" | "std" | "var": the ewm.py statistic

    def __init__(self, com=None, span=None, halflife=None, alpha=None,
                 ignore_na=False):
        if com is None and span is None and halflife is None and alpha is None:
            com = 0.5  # reference default
        self.com, self.span = com, span
        self.halflife, self.alpha = halflife, alpha
        self.ignore_na = ignore_na


@transform_primitive
class ExponentialWeightedAverage(_EWMBase):
    name = "exponential_weighted_average"
    kind = "mean"


@transform_primitive
class ExponentialWeightedSTD(_EWMBase):
    name = "exponential_weighted_std"
    kind = "std"


@transform_primitive
class ExponentialWeightedVariance(_EWMBase):
    name = "exponential_weighted_variance"
    kind = "var"


@transform_primitive
class RollingOutlierCount(_PandasKernelTransform):
    name = "rolling_outlier_count"

    def __init__(self, window_length=5, gap=0, min_periods=1):
        self.window_length = int(window_length)
        self.gap = int(gap)
        self.min_periods = int(min_periods) if min_periods else 1

    def halo(self):
        """Trailing window + gap: row i reads rows
        [i-gap-window_length+1, i-gap] — distributable by
        halo-chunking (chunked.bounded_window_global)."""
        return (self.window_length + self.gap - 1, 0)

    def pandas(self, pdf, in_cols, out_col, order_cols):
        s = pdf[in_cols[0]]
        if self.gap:
            s = s.shift(self.gap)

        def count_outliers(win):
            import numpy as _np
            w = win[~_np.isnan(win)]
            if len(w) == 0:
                return _np.nan
            q1, q3 = _np.percentile(w, [25, 75])
            iqr = q3 - q1
            lo, hi = q1 - 1.5 * iqr, q3 + 1.5 * iqr
            return float(((w < lo) | (w > hi)).sum())

        pdf[out_col] = s.rolling(
            self.window_length, min_periods=self.min_periods
        ).apply(count_outliers, raw=True)
        return pdf


@transform_primitive
class SavgolFilter(_PandasKernelTransform):
    name = "savgol_filter"

    def __init__(self, window_length=5, polyorder=3):
        self.window_length = int(window_length)
        self.polyorder = int(polyorder)

    def halo(self):
        """Centered FIR window: interior rows read window_length//2
        rows each side (scipy mode='interp' edge fits only apply at
        the true sequence edges, which stay in the first/last chunk)."""
        h = self.window_length // 2
        return (h, h)

    def pandas(self, pdf, in_cols, out_col, order_cols):
        try:
            from scipy.signal import savgol_filter as _sg
        except ImportError:  # scipy not in this container: numpy LSQ
            pdf[out_col] = _savgol_numpy(
                pdf[in_cols[0]].values, self.window_length, self.polyorder
            )
            return pdf
        pdf[out_col] = _sg(pdf[in_cols[0]].values, self.window_length,
                           self.polyorder)
        return pdf


def _savgol_numpy(y, window_length, polyorder):
    """Savitzky-Golay smoothing (deriv=0, scipy mode='interp') from
    first principles: the filtered value at each point is the value at
    that point of the least-squares polynomial of degree `polyorder`
    fitted to the surrounding `window_length` samples. Interior points
    use the centered-window weights (one pinv row, applied as a
    sliding correlation); the first/last half-window points are read
    off the polynomial fitted to the first/last full window — exactly
    scipy's 'interp' edge rule (reference savgol_filter.py:11 wraps
    scipy with these defaults). Exact on inputs that are polynomials
    of degree <= polyorder, which the tests assert."""
    import numpy as _np

    y = _np.asarray(y, dtype=float)
    n, w, p = len(y), int(window_length), int(polyorder)
    if w % 2 != 1 or w < 1:
        raise ValueError("window_length must be a positive odd number")
    if p >= w:
        raise ValueError("polyorder must be less than window_length")
    if n < w:  # scipy mode='interp' contract
        raise ValueError(
            "If mode is 'interp', window_length must be less than or "
            "equal to the size of x."
        )
    h = w // 2
    # centered-window weights: value at x=0 of the LSQ fit over
    # x = -h..h is the first row of pinv(Vandermonde)
    x = _np.arange(w, dtype=float) - h
    weights = _np.linalg.pinv(_np.vander(x, p + 1, increasing=True))[0]
    out = _np.empty(n)
    out[h:n - h] = _np.correlate(y, weights, mode="valid")
    # edges: one polynomial per end, fitted to the full first/last
    # window and evaluated at the half-window positions it covers
    xe = _np.arange(w, dtype=float)
    ve = _np.vander(xe, p + 1, increasing=True)
    out[:h] = ve[:h] @ _np.linalg.lstsq(ve, y[:w], rcond=None)[0]
    out[n - h:] = (ve @ _np.linalg.lstsq(ve, y[-w:], rcond=None)[0])[w - h:]
    return out


# ----------------------------------------------------------------------
# holiday transforms — built-in US federal holiday table (2020-2030,
# computed from the statutory rules, no external package), broadcast
# as a literal array (reference date_to_holiday.py:9 uses the
# `holidays` pkg; same output for the US range we ship).
# ----------------------------------------------------------------------
def _us_federal_holidays():
    import datetime as _dt

    def nth_weekday(year, month, weekday, n):
        d = _dt.date(year, month, 1)
        offset = (weekday - d.weekday()) % 7
        return d + _dt.timedelta(days=offset + 7 * (n - 1))

    def last_weekday(year, month, weekday):
        if month == 12:
            d = _dt.date(year, 12, 31)
        else:
            d = _dt.date(year, month + 1, 1) - _dt.timedelta(days=1)
        return d - _dt.timedelta(days=(d.weekday() - weekday) % 7)

    out = {}
    for y in range(2015, 2031):
        out[_dt.date(y, 1, 1)] = "New Year's Day"
        out[nth_weekday(y, 1, 0, 3)] = "Martin Luther King Jr. Day"
        out[nth_weekday(y, 2, 0, 3)] = "Washington's Birthday"
        out[last_weekday(y, 5, 0)] = "Memorial Day"
        if y >= 2021:
            out[_dt.date(y, 6, 19)] = "Juneteenth National Independence Day"
        out[_dt.date(y, 7, 4)] = "Independence Day"
        out[nth_weekday(y, 9, 0, 1)] = "Labor Day"
        out[nth_weekday(y, 10, 0, 2)] = "Columbus Day"
        out[_dt.date(y, 11, 11)] = "Veterans Day"
        out[nth_weekday(y, 11, 3, 4)] = "Thanksgiving"
        out[_dt.date(y, 12, 25)] = "Christmas Day"
    return out


@transform_primitive
class DateToHoliday(_DT):
    name = "date_to_holiday"
    return_kind = "category"

    def expr(self, inputs, ctx):
        hols = _us_federal_holidays()
        mapping = F.create_map(
            *[x for d, n in sorted(hols.items())
              for x in (F.lit(d.isoformat()), F.lit(n))]
        )
        return mapping.getItem(F.date_format(inputs[0], "yyyy-MM-dd"))


@transform_primitive
class IsFederalHoliday(_DT):
    name = "is_federal_holiday"
    return_kind = "boolean"

    def expr(self, inputs, ctx):
        hols = sorted(d.isoformat() for d in _us_federal_holidays())
        return F.date_format(inputs[0], "yyyy-MM-dd").isin(hols)


@transform_primitive
class DistanceToHoliday(_DT):
    name = "distance_to_holiday"

    def __init__(self, holiday="New Year's Day"):
        self.holiday = holiday

    def expr(self, inputs, ctx):
        dates = sorted(
            d for d, n in _us_federal_holidays().items() if n == self.holiday
        )
        arr = F.array(*[F.lit(d.isoformat()).cast("date") for d in dates])
        diffs = F.transform(arr, lambda h: F.datediff(h, F.to_date(inputs[0])))
        # nearest holiday occurrence (signed days, reference semantics)
        return F.aggregate(
            diffs,
            F.lit(None).cast("int"),
            lambda acc, x: F.when(acc.isNull() | (F.abs(x) < F.abs(acc)), x)
            .otherwise(acc),
        )


@transform_primitive
class NthWeekOfMonth(_DT):
    name = "nth_week_of_month"

    def expr(self, inputs, ctx):
        first = F.trunc(inputs[0], "month")
        # week-of-month relative to the calendar row of the 1st (Sunday start)
        dow_first = F.dayofweek(first)  # Sun=1
        return ((F.dayofmonth(inputs[0]) + dow_first - 2) / 7).cast("int") + 1


@transform_primitive
class IsFirstWeekOfMonth(_DT):
    name = "is_first_week_of_month"
    return_kind = "boolean"

    def expr(self, inputs, ctx):
        first = F.trunc(inputs[0], "month")
        dow_first = F.dayofweek(first)
        wk = ((F.dayofmonth(inputs[0]) + dow_first - 2) / 7).cast("int") + 1
        return wk == 1


@transform_primitive
class NumberOfCommonWords(_Text):
    name = "number_of_common_words"

    COMMON = ("the", "and", "of", "to", "in", "is", "that", "for", "with",
              "was", "it", "a", "an", "on", "as", "are", "at", "be", "this",
              "have")

    def expr(self, inputs, ctx):
        w = F.split(F.lower(F.trim(inputs[0])), r"\s+")
        return F.size(F.filter(w, lambda x: x.isin(*self.COMMON)))


@transform_primitive
class NumberOfWordsInQuotes(_Text):
    name = "number_of_words_in_quotes"

    def expr(self, inputs, ctx):
        quoted = F.regexp_extract_all(inputs[0], F.lit('"([^"]*)"'), 1)
        return F.aggregate(
            F.transform(
                quoted,
                lambda q: F.when(F.trim(q) == "", 0).otherwise(
                    F.size(F.split(F.trim(q), r"\s+"))
                ),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )


@transform_primitive
class NumUniqueSeparators(_Text):
    name = "num_unique_separators"

    def expr(self, inputs, ctx):
        seps = F.regexp_extract_all(
            inputs[0], F.lit(r"[!\"#$%&'()*+,\-./:;<=>?@\[\\\]^_`{|}~\s]"), 0
        )
        return F.size(F.array_distinct(seps))


@transform_primitive
class UpperCaseWordCount(_Text):
    name = "upper_case_word_count"

    def expr(self, inputs, ctx):
        return F.regexp_count(inputs[0], F.lit(r"\b[A-Z]+\b"))


@transform_primitive
class DateToTimeZone(_DT):
    name = "date_to_time_zone"
    return_kind = "category"

    def expr(self, inputs, ctx):
        # timestamps in this engine are session-TZ (UTC) — constant by
        # construction; a tz-aware source would carry its own column
        return F.when(inputs[0].isNotNull(), F.lit("UTC"))

"""Query specification — the engine's logical query model.

Mirrors bullet-core's ``Query(Projection, filter, Aggregation,
List[PostAggregation], Window, duration)`` shape (constructed by the reference
at QueryDataUnioningTest.scala:93) but is *declarative input to a Catalyst
plan*, not data shipped to executors. Validation errors play the role of the
reference's BulletErrorData (BulletSparkUtils.scala:38-44).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum
from typing import Sequence

from bullet_spark_spark.functions.exprs import Expr


class AggOp(str, Enum):
    """GROUP BY operations (bullet-core GroupOperation.GroupOperationType)."""

    COUNT = "COUNT"
    SUM = "SUM"
    MIN = "MIN"
    MAX = "MAX"
    AVG = "AVG"
    COUNT_FIELD = "COUNT_FIELD"  # non-null count of a field
    # engine extensions: accumulation-order-independent aggregates (exact
    # DECIMAL(18,4) accumulation surfaced as double) — reproducible across
    # engines/partitionings, used by the oracle suite
    SUM_EXACT = "SUM_EXACT"
    AVG_EXACT = "AVG_EXACT"


@dataclass(frozen=True)
class Projection:
    """SELECT list. ``fields=None`` → pass-through (SELECT *); ``copy=True``
    keeps every input field and appends the computed ones (bullet-core
    Projection copy mode)."""

    fields: Sequence[tuple[str, Expr]] | None = None
    copy: bool = False


@dataclass(frozen=True)
class RawAgg:
    """RAW: collect up to ``limit`` matching records — the only 'select *'
    aggregation (``new Raw(1)`` at reference QueryDataUnioningTest.scala:93).
    A streaming query completes once ``limit`` records are emitted
    (JoinStreamingTest.scala:55-67)."""

    limit: int = 500


@dataclass(frozen=True)
class GroupAgg:
    """GROUP BY fields (empty = GROUP ALL) + aggregation operations.
    operations: (op, input_field_or_None, output_name)."""

    fields: Sequence[str] = ()
    operations: Sequence[tuple[AggOp, str | None, str]] = ()
    # bullet caps result groups (exact up to max, sampled beyond [D]); we cap
    # deterministically by key order so results stay oracle-comparable.
    # None = uncapped (the engine has no bounded-result transport constraint)
    max_groups: int | None = None


@dataclass(frozen=True)
class CountDistinctAgg:
    """COUNT DISTINCT over a field tuple. ``approx=False`` → exact
    (oracle-checkable); ``approx=True`` → HLL++ sketch estimate with rsd —
    our analogue of bullet's Theta-sketch switchover (SURVEY §2.2 Q6)."""

    fields: Sequence[str]
    name: str = "count_distinct"
    approx: bool = False
    rsd: float = 0.05


class DistributionType(str, Enum):
    QUANTILE = "QUANTILE"
    PMF = "PMF"  # frequency histogram per bucket
    CDF = "CDF"  # cumulative frequency per bucket


@dataclass(frozen=True)
class DistributionAgg:
    """DISTRIBUTION sketch family (SURVEY §2.2 Q7-Q9). Buckets may be given
    as explicit ``points`` or as a linear ``(start, end, num_buckets)`` region;
    QUANTILE takes probabilities in [0,1]."""

    type: DistributionType
    field: str
    points: Sequence[float] | None = None
    start: float | None = None
    end: float | None = None
    num_buckets: int | None = None
    approx: bool = False
    accuracy: int = 10000  # percentile_approx accuracy when approx=True
    # exact-mode strategy: False = built-in percentile (one O(rows) buffer —
    # fine to mid volume); True = sort + targeted-rank selection
    # (operators.distribution.exact_quantiles_distributed — the 100 TB path)
    distributed: bool = False
    # exact-mode strategy: histogram targeted-rank (min/max/count agg →
    # bucket counts → collect only target buckets) — exact results with no
    # global sort and no O(rows) buffer, and the fastest exact path at any
    # volume (operators.distribution.exact_quantiles_histogram)
    histogram: bool = False
    # mergeable-state bucketing for the dynamic multiplexer / sketch path:
    # QUANTILE partials are per-bucket counts with LINEAR buckets
    # floor(value/width) (operators.sketch.hist_group_sketches semantics —
    # engine-portable, estimates within one width of exact). Required when a
    # QUANTILE spec registers on streaming.dynamic.DynamicMultiplexer;
    # ignored elsewhere.
    width: float | None = None


@dataclass(frozen=True)
class TopKAgg:
    """TOP K most frequent values of a field tuple, optional min-count
    threshold (bullet HAVING-threshold semantics)."""

    fields: Sequence[str]
    k: int
    threshold: int | None = None
    name: str = "count"


Aggregation = RawAgg | GroupAgg | CountDistinctAgg | DistributionAgg | TopKAgg


@dataclass(frozen=True)
class Having:
    expr: Expr


@dataclass(frozen=True)
class OrderBy:
    # (field_or_expr, ascending)
    keys: Sequence[tuple[str | Expr, bool]]


@dataclass(frozen=True)
class Computation:
    fields: Sequence[tuple[str, Expr]]


@dataclass(frozen=True)
class Culling:
    fields: Sequence[str]


PostAggregation = Having | OrderBy | Computation | Culling


class WindowUnit(str, Enum):
    RECORD = "RECORD"
    TIME = "TIME"
    ALL = "ALL"


@dataclass(frozen=True)
class Window:
    """Emission window (bullet's windows are *emit cadences*, not relational
    windows — SURVEY §2.4). ``emit_every=None`` → one-shot final emit (W1);
    TIME unit → tumbling (W3); include=ALL → additive, state never reset (W4);
    RECORD unit → per-N-records reactive (W2)."""

    emit_every: int | None = None  # ms for TIME, count for RECORD
    emit_unit: WindowUnit | None = None
    include: WindowUnit | None = None  # ALL → additive
    # capability upgrade over the reference: HOPPING (sliding) windows —
    # a window of emit_every ms STARTING every slide_every ms, each event
    # counted in ceil(emit_every/slide_every) overlapping windows. The
    # reference's window model has no overlap concept at all; Spark's
    # window(col, dur, slide) provides it natively. TIME unit only.
    slide_every: int | None = None
    # capability upgrade over the reference (W5): event-time windows with a
    # declared timestamp field; the reference is processing-time only
    # (JoinStreaming.scala:118-122)
    event_time_field: str | None = None
    # streaming state eviction: rows later than this behind the max event
    # time are dropped and closed windows evicted. None = no watermark —
    # exact results on out-of-order input, but unbounded state (choose a
    # delay covering source disorder for long-running queries at scale)
    watermark_delay_ms: int | None = None


@dataclass(frozen=True)
class Explode:
    """Table function: LATERAL VIEW [OUTER] EXPLODE — one output row per
    element of a list (or entry of a map) expression, joined laterally to
    its source row. bullet-core 1.5 table-function surface exercised via
    bullet-bql's LATERAL VIEW grammar [D] (the reference executes it
    inside Querier; our compiler maps it to Catalyst Generate, which
    stays inside the scan stage — no shuffle)."""

    expr: "Expr"
    alias: str  # element alias (value alias for maps)
    key_alias: str | None = None  # set for map explode: (key, value)
    outer: bool = False  # OUTER: keep rows with empty/null containers


@dataclass(frozen=True)
class Query:
    """The engine's logical query: compiled by plans.compiler to a DataFrame
    plan (batch) or a StreamingQuery spec (streaming.runtime)."""

    source: str  # registered table/view name
    projection: Projection = field(default_factory=Projection)
    filter: Expr | None = None
    aggregation: Aggregation = field(default_factory=lambda: RawAgg())
    explode: Explode | None = None  # LATERAL VIEW, applied before filter
    post_aggregations: Sequence[PostAggregation] = ()
    window: Window = field(default_factory=Window)
    duration_ms: int | None = None  # streaming lifecycle; batch: ignored

    def validate(self) -> list[str]:
        """Spec-level validation; error strings ≈ reference's ErrorData path
        (BulletSparkUtils.scala:38-44, QueryDataUnioningTest.scala:40-51)."""
        errors: list[str] = []
        if isinstance(self.aggregation, RawAgg) and self.aggregation.limit <= 0:
            errors.append("RAW limit must be positive")
        if isinstance(self.aggregation, TopKAgg) and self.aggregation.k <= 0:
            errors.append("TOP K k must be positive")
        if isinstance(self.aggregation, CountDistinctAgg) and not self.aggregation.fields:
            errors.append("COUNT DISTINCT needs at least one field")
        if isinstance(self.aggregation, DistributionAgg):
            d = self.aggregation
            has_region = d.start is not None and d.end is not None and d.num_buckets
            if not d.points and not has_region:
                errors.append("DISTRIBUTION needs points or (start, end, num_buckets)")
        if self.window.emit_unit is WindowUnit.RECORD and not self.window.emit_every:
            errors.append("RECORD window needs emit_every")
        if self.window.slide_every is not None:
            w = self.window
            if w.emit_unit is not WindowUnit.TIME or not w.emit_every:
                errors.append("slide_every needs a TIME window with emit_every")
            elif w.slide_every <= 0 or w.slide_every > w.emit_every:
                errors.append(
                    "slide_every must be in (0, emit_every] — a slide larger "
                    "than the window drops events from all windows"
                )
        return errors

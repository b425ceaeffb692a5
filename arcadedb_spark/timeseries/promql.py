"""PromQL → DataFrame evaluator.

Parity: engine/timeseries/promql/{PromQLParser,PromQLEvaluator,
PromQLFunctions}.java and ast/PromQLExpr.java.  Subset mirrors the
reference: vector selectors with label matchers (= != =~ !~) and
``offset``, range selectors ``[5m]``, range functions rate / irate /
increase / sum|avg|min|max|count_over_time (rate & increase are a
faithful port of the reference's Prometheus ``extrapolatedRate``
including counter-reset correction and boundary extrapolation),
aggregations sum/avg/min/max/count/topk/bottomk with ``by``/``without``,
binary ops (+ - * / % ^, comparisons-as-filters, and/or/unless), unary
minus, and instant math functions (abs/ceil/floor/round/exp/ln/sqrt/
clamp_min/clamp_max).

Input shape: a DataFrame with columns
``metric string, labels map<string,string>, ts_millis long,
value double`` — the natural product of
:mod:`arcadedb_spark.sources.line_protocol` (tags → labels, one row per
field sample).

Spark shape: every evaluation step is a DataFrame program —
- the eval grid (instant = 1 point, range = start..end/step) is a tiny
  broadcast frame joined against samples, so sample scans parallelize
  by partition while the grid never shuffles;
- instant lookback = ``max_by(value, ts)`` per (series, eval point);
- range functions = ``collect_list`` of the in-window samples per
  (series, eval point) — bounded by the range window — reduced by one
  Arrow-batched pandas UDF;
- binary ops join on the canonical series key (sorted-label JSON,
  metric name excluded — PromQL label matching semantics);
- and/or/unless are semi/union/anti joins; Catalyst broadcasts the
  small side automatically.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arcadedb_spark.session import local_df

DEFAULT_LOOKBACK_MS = 5 * 60_000  # PromQLEvaluator.DEFAULT_LOOKBACK_MS

_DUR_RE = re.compile(r"(\d+)(ms|s|m|h|d|w|y)")
_DUR_MS = {
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
    "d": 86_400_000, "w": 604_800_000, "y": 31_536_000_000,
}

_RANGE_FUNCS = {
    "rate", "irate", "increase", "sum_over_time", "avg_over_time",
    "min_over_time", "max_over_time", "count_over_time", "last_over_time",
}
_AGG_OPS = {"sum", "avg", "min", "max", "count", "topk", "bottomk"}
_MATH_FUNCS = {
    "abs", "ceil", "floor", "round", "exp", "ln", "sqrt",
    "clamp_min", "clamp_max",
}


def parse_duration(text: str) -> int:
    """'1h30m' → millis (compound units like Prometheus)."""
    ms = 0
    pos = 0
    for m in _DUR_RE.finditer(text):
        if m.start() != pos:
            raise ValueError(f"Bad duration: {text!r}")
        ms += int(m.group(1)) * _DUR_MS[m.group(2)]
        pos = m.end()
    if pos != len(text) or ms == 0 and text != "0":
        raise ValueError(f"Bad duration: {text!r}")
    return ms


# -- AST (PromQLExpr.java records) ------------------------------------------


@dataclass(frozen=True)
class Num:
    value: float


@dataclass(frozen=True)
class Matcher:
    name: str
    op: str  # = != =~ !~
    value: str


@dataclass(frozen=True)
class Selector:
    metric: str
    matchers: tuple = ()
    range_ms: int = 0  # 0 → instant vector
    offset_ms: int = 0


@dataclass(frozen=True)
class Agg:
    op: str
    expr: object
    labels: tuple = ()
    without: bool = False
    param: object = None  # k for topk/bottomk


@dataclass(frozen=True)
class Func:
    name: str
    args: tuple = ()


@dataclass(frozen=True)
class Bin:
    op: str
    left: object
    right: object


@dataclass(frozen=True)
class Unary:
    expr: object


_TOKEN = re.compile(
    r"\s*(?:(?P<num>\d+\.\d+|\.\d+|\d+(?![\w:]))|(?P<dur>\d+(?:ms|s|m|h|d|w|y)(?:\d+(?:ms|s|m|h|d|w|y))*)"
    r"|(?P<id>[A-Za-z_:][A-Za-z0-9_:]*)|(?P<str>\"(?:[^\"\\]|\\.)*\"|'(?:[^'\\]|\\.)*')"
    r"|(?P<op>=~|!~|==|!=|<=|>=|[-+*/%^(){}\[\],=<>]))"
)


class PromQLParser:
    """Recursive descent over the reference grammar
    (PromQLParser.java:573)."""

    def __init__(self, text: str) -> None:
        self.toks: list[tuple[str, str]] = []
        pos = 0
        while pos < len(text):
            m = _TOKEN.match(text, pos)
            if not m:
                if text[pos:].strip():
                    raise ValueError(f"Bad PromQL at: {text[pos:pos+20]!r}")
                break
            pos = m.end()
            for kind in ("num", "dur", "id", "str", "op"):
                if m.group(kind) is not None:
                    self.toks.append((kind, m.group(kind)))
                    break
        self.i = 0

    def peek(self, k: int = 0):
        return self.toks[self.i + k] if self.i + k < len(self.toks) else ("eof", "")

    def eat(self):
        t = self.peek()
        self.i += 1
        return t

    def expect(self, val: str):
        t = self.eat()
        if t[1] != val:
            raise ValueError(f"Expected {val!r}, got {t[1]!r}")

    def parse(self):
        e = self._or()
        if self.peek()[0] != "eof":
            raise ValueError(f"Trailing input: {self.peek()[1]!r}")
        return e

    def _or(self):
        e = self._and()
        while self.peek()[1] in ("or", "unless"):
            op = self.eat()[1]
            e = Bin(op, e, self._and())
        return e

    def _and(self):
        e = self._cmp()
        while self.peek()[1] == "and":
            self.eat()
            e = Bin("and", e, self._cmp())
        return e

    def _cmp(self):
        e = self._add()
        while self.peek()[1] in ("==", "!=", "<", ">", "<=", ">="):
            op = self.eat()[1]
            e = Bin(op, e, self._add())
        return e

    def _add(self):
        e = self._mul()
        while self.peek()[1] in ("+", "-"):
            op = self.eat()[1]
            e = Bin(op, e, self._mul())
        return e

    def _mul(self):
        e = self._pow()
        while self.peek()[1] in ("*", "/", "%"):
            op = self.eat()[1]
            e = Bin(op, e, self._pow())
        return e

    def _pow(self):
        e = self._unary()
        if self.peek()[1] == "^":
            self.eat()
            return Bin("^", e, self._pow())
        return e

    def _unary(self):
        if self.peek()[1] == "-":
            self.eat()
            return Unary(self._unary())
        return self._primary()

    def _labels_parens(self) -> tuple:
        self.expect("(")
        out = []
        while self.peek()[1] != ")":
            out.append(self.eat()[1])
            if self.peek()[1] == ",":
                self.eat()
        self.expect(")")
        return tuple(out)

    def _primary(self):
        kind, val = self.peek()
        if val == "(":
            self.eat()
            e = self._or()
            self.expect(")")
            return e
        if kind == "num":
            self.eat()
            return Num(float(val))
        if kind != "id":
            raise ValueError(f"Unexpected token {val!r}")
        name = self.eat()[1]
        low = name.lower()
        if low in _AGG_OPS:
            labels: tuple = ()
            without = False
            if self.peek()[1] in ("by", "without"):
                without = self.eat()[1] == "without"
                labels = self._labels_parens()
            self.expect("(")
            param = None
            first = self._or()
            if self.peek()[1] == ",":
                self.eat()
                param, first = first, self._or()
            self.expect(")")
            if self.peek()[1] in ("by", "without"):
                without = self.eat()[1] == "without"
                labels = self._labels_parens()
            return Agg(low, first, labels, without, param)
        if low in _RANGE_FUNCS or low in _MATH_FUNCS:
            if self.peek()[1] == "(":
                self.eat()
                args = []
                while self.peek()[1] != ")":
                    args.append(self._or())
                    if self.peek()[1] == ",":
                        self.eat()
                self.expect(")")
                return Func(low, tuple(args))
        return self._selector(name)

    def _selector(self, metric: str):
        matchers = []
        if self.peek()[1] == "{":
            self.eat()
            while self.peek()[1] != "}":
                lname = self.eat()[1]
                op = self.eat()[1]
                if op not in ("=", "!=", "=~", "!~"):
                    raise ValueError(f"Bad matcher op {op!r}")
                v = self.eat()
                if v[0] != "str":
                    raise ValueError("Matcher value must be quoted")
                matchers.append(Matcher(lname, op, v[1][1:-1]))
                if self.peek()[1] == ",":
                    self.eat()
            self.expect("}")
        range_ms = 0
        if self.peek()[1] == "[":
            self.eat()
            t = self.eat()
            range_ms = parse_duration(t[1])
            self.expect("]")
        offset_ms = 0
        if self.peek()[1] == "offset":
            self.eat()
            offset_ms = parse_duration(self.eat()[1])
        return Selector(metric, tuple(matchers), range_ms, offset_ms)


# -- evaluator ---------------------------------------------------------------


def _series_key(labels: Column) -> Column:
    # canonical identity: sorted label entries as JSON; metric name is
    # NOT part of it (PromQL match-on-labels semantics)
    return F.to_json(F.array_sort(F.map_entries(labels)))


_RANGE_UDF_CACHE: list = []


def _range_reduce_udf():
    """(samples sorted by ts, range_start, range_end, fname) → double —
    PromQLFunctions.java port (extrapolatedRate :87-150, irate :50)."""
    if _RANGE_UDF_CACHE:
        return _RANGE_UDF_CACHE[0]
    import pandas as pd
    from pyspark.sql.types import DoubleType

    def one(samples, start_ms, end_ms, fname) -> float | None:
        vals = [(s["ts"], s["v"]) for s in samples]
        if fname in ("rate", "increase", "irate"):
            if len(vals) < 2:
                return 0.0
            if fname == "irate":
                (t1, v1), (t2, v2) = vals[-2], vals[-1]
                dur = (t2 - t1) / 1000.0
                if dur <= 0:
                    return 0.0
                diff = v2 - v1
                if diff < 0:
                    diff = v2  # counter reset
                return diff / dur
            total = 0.0
            prev = vals[0][1]
            for _, cur in vals[1:]:
                total += cur if cur < prev else cur - prev
                prev = cur
            sampled = (vals[-1][0] - vals[0][0]) / 1000.0
            if sampled <= 0:
                return 0.0
            range_sec = (end_ms - start_ms) / 1000.0
            if range_sec <= 0:
                return 0.0
            to_start = vals[0][0] / 1000.0 - start_ms / 1000.0
            to_end = end_ms / 1000.0 - vals[-1][0] / 1000.0
            avg_between = sampled / (len(vals) - 1)
            if total > 0 and vals[0][1] >= 0:
                to_zero = sampled * (vals[0][1] / total)
                if to_zero < to_start:
                    to_start = to_zero
            threshold = avg_between * 1.1
            extrap = sampled
            extrap += to_start if to_start < threshold else avg_between / 2
            extrap += to_end if to_end < threshold else avg_between / 2
            val = total * (extrap / sampled)
            return val / range_sec if fname == "rate" else val
        vs = [v for _, v in vals]
        if not vs:
            return None
        return {
            "sum_over_time": sum(vs),
            "avg_over_time": sum(vs) / len(vs),
            "min_over_time": min(vs),
            "max_over_time": max(vs),
            "count_over_time": float(len(vs)),
            "last_over_time": vs[-1],
        }[fname]

    def batch(samples, start, end, fname):
        return pd.Series(
            [
                one(s, st, en, fn) if s is not None else None
                for s, st, en, fn in zip(samples, start, end, fname)
            ],
            dtype="float64",
        )

    u = F.pandas_udf(batch, DoubleType())
    _RANGE_UDF_CACHE.append(u)
    return u


_MERGE_UDF_CACHE: list = []


def _merge_partials_udf():
    """(bucket partials sorted by bucket, range_start, range_end, fname)
    → double.  Merges per-bucket partial aggregates into the window value
    with EXACTLY the sample-level semantics of ``_range_reduce_udf`` —
    boundary increases between consecutive buckets reconstruct the
    counter-reset accounting, first/last/n reconstruct extrapolation."""
    if _MERGE_UDF_CACHE:
        return _MERGE_UDF_CACHE[0]
    import pandas as pd
    from pyspark.sql.types import DoubleType

    def one(parts, start_ms, end_ms, fname) -> float | None:
        n_tot = sum(p["n"] for p in parts)
        if fname in ("rate", "increase", "irate"):
            if n_tot < 2:
                return 0.0
            if fname == "irate":
                tail = []
                for p in reversed(parts):
                    tail = [(s["ts"], s["v"]) for s in p["last2"]] + tail
                    if len(tail) >= 2:
                        break
                (t1, v1), (t2, v2) = tail[-2], tail[-1]
                dur = (t2 - t1) / 1000.0
                if dur <= 0:
                    return 0.0
                diff = v2 - v1
                if diff < 0:
                    diff = v2
                return diff / dur
            total = sum(p["inc"] for p in parts)
            for prev, cur in zip(parts, parts[1:]):
                d = cur["first_v"] - prev["last_v"]
                if cur["first_v"] < prev["last_v"]:
                    d = cur["first_v"]
                total += d
            first_ts, first_v = parts[0]["first_ts"], parts[0]["first_v"]
            last_ts = parts[-1]["last_ts"]
            sampled = (last_ts - first_ts) / 1000.0
            if sampled <= 0:
                return 0.0
            range_sec = (end_ms - start_ms) / 1000.0
            if range_sec <= 0:
                return 0.0
            to_start = first_ts / 1000.0 - start_ms / 1000.0
            to_end = end_ms / 1000.0 - last_ts / 1000.0
            avg_between = sampled / (n_tot - 1)
            if total > 0 and first_v >= 0:
                to_zero = sampled * (first_v / total)
                if to_zero < to_start:
                    to_start = to_zero
            threshold = avg_between * 1.1
            extrap = sampled
            extrap += to_start if to_start < threshold else avg_between / 2
            extrap += to_end if to_end < threshold else avg_between / 2
            val = total * (extrap / sampled)
            return val / range_sec if fname == "rate" else val
        if n_tot == 0:
            return None
        return {
            "sum_over_time": sum(p["s"] for p in parts),
            "avg_over_time": sum(p["s"] for p in parts) / n_tot,
            "min_over_time": min(p["mn"] for p in parts),
            "max_over_time": max(p["mx"] for p in parts),
            "count_over_time": float(n_tot),
            "last_over_time": parts[-1]["last_v"],
        }[fname]

    def batch(parts, start, end, fname):
        return pd.Series(
            [
                one(p, st, en, fn) if p is not None and len(p) else None
                for p, st, en, fn in zip(parts, start, end, fname)
            ],
            dtype="float64",
        )

    u = F.pandas_udf(batch, DoubleType())
    _MERGE_UDF_CACHE.append(u)
    return u


@dataclass
class _Ctx:
    grid: DataFrame  # (eval_ts long) — broadcast-sized
    lookback_ms: int
    # uniform-grid metadata (range queries): enables the bucketed
    # range-function fast path (each raw sample aggregated ONCE per query,
    # not once per covering eval point)
    step_ms: int | None = None
    start_ms: int | None = None


class PromQLEvaluator:
    """Evaluate PromQL over a metrics DataFrame
    (PromQLEvaluator.java:69 analog; instant + range entry points
    :99-:133)."""

    def __init__(
        self, metrics: DataFrame, lookback_ms: int = DEFAULT_LOOKBACK_MS
    ) -> None:
        self.metrics = metrics
        self.spark = metrics.sparkSession
        self.lookback_ms = lookback_ms

    # -- public entry points ------------------------------------------------

    def instant(self, query: str, time_ms: int) -> DataFrame:
        """Instant query → (labels, ts_millis, value)."""
        return self._run(query, [time_ms])

    def range_query(
        self, query: str, start_ms: int, end_ms: int, step_ms: int
    ) -> DataFrame:
        """Range query: eval at start..end every step
        (PromQLEvaluator.java:133)."""
        points = list(range(start_ms, end_ms + 1, step_ms))
        return self._run(query, points, step_ms=step_ms, start_ms=start_ms)

    def _run(
        self,
        query: str,
        points: list[int],
        step_ms: int | None = None,
        start_ms: int | None = None,
    ) -> DataFrame:
        expr = PromQLParser(query).parse()
        grid = local_df(self.spark, [(p,) for p in points], "eval_ts long")
        ctx = _Ctx(
            grid=F.broadcast(grid),
            lookback_ms=self.lookback_ms,
            step_ms=step_ms,
            start_ms=start_ms,
        )
        out = self._eval(expr, ctx)
        if isinstance(out, (int, float)):
            return grid.select(
                F.create_map().cast("map<string,string>").alias("labels"),
                F.col("eval_ts").alias("ts_millis"),
                F.lit(float(out)).alias("value"),
            )
        return out.select(
            "labels", F.col("eval_ts").alias("ts_millis"), "value"
        ).orderBy("ts_millis")

    # -- node dispatch ------------------------------------------------------

    def _eval(self, e, ctx: _Ctx):
        if isinstance(e, Num):
            return e.value
        if isinstance(e, Unary):
            v = self._eval(e.expr, ctx)
            if isinstance(v, float):
                return -v
            return v.withColumn("value", -F.col("value"))
        if isinstance(e, Selector):
            if e.range_ms:
                raise ValueError(
                    "Range vector outside a range function"
                )
            return self._instant_vector(e, ctx)
        if isinstance(e, Func):
            return self._function(e, ctx)
        if isinstance(e, Agg):
            return self._aggregate(e, ctx)
        if isinstance(e, Bin):
            return self._binary(e, ctx)
        raise ValueError(f"Unsupported node: {e!r}")

    # -- selectors ----------------------------------------------------------

    def _base(self, sel: Selector) -> DataFrame:
        df = self.metrics.filter(F.col("metric") == sel.metric)
        for m in sel.matchers:
            col = F.col("labels").getItem(m.name)
            if m.op == "=":
                df = df.filter(col == m.value)
            elif m.op == "!=":
                df = df.filter(col.isNull() | (col != m.value))
            elif m.op == "=~":
                df = df.filter(col.rlike(m.value))
            else:
                df = df.filter(col.isNull() | ~col.rlike(m.value))
        return df

    def _instant_vector(self, sel: Selector, ctx: _Ctx) -> DataFrame:
        """Latest sample per series within the lookback window before
        each eval point (PromQLEvaluator instant lookup :49-:74)."""
        s = self._base(sel)
        off = sel.offset_ms
        j = s.join(
            ctx.grid,
            (F.col("ts_millis") <= F.col("eval_ts") - off)
            & (F.col("ts_millis") >= F.col("eval_ts") - off - ctx.lookback_ms),
        )
        return (
            j.groupBy(_series_key(F.col("labels")).alias("skey"), "eval_ts")
            .agg(
                F.max_by("value", "ts_millis").alias("value"),
                F.any_value("labels").alias("labels"),
            )
        )

    def _range_vector(self, sel: Selector, ctx: _Ctx) -> DataFrame:
        """Collect in-window samples per (series, eval point) —
        evaluateMatrixSelector :216-:260 (inclusive bounds)."""
        s = self._base(sel)
        off = sel.offset_ms
        j = s.join(
            ctx.grid,
            (F.col("ts_millis") <= F.col("eval_ts") - off)
            & (F.col("ts_millis") >= F.col("eval_ts") - off - sel.range_ms),
        )
        return (
            j.groupBy(_series_key(F.col("labels")).alias("skey"), "eval_ts")
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("ts_millis").alias("ts"), F.col("value").alias("v"))
                    )
                ).alias("samples"),
                F.any_value("labels").alias("labels"),
            )
            .withColumn("range_start", F.col("eval_ts") - off - sel.range_ms)
            .withColumn("range_end", F.col("eval_ts") - off)
        )

    def _range_function_bucketed(self, fname: str, sel, ctx: _Ctx) -> DataFrame:
        """Dense-grid range function via bucket reuse.

        When step < range on a uniform grid, the naive matrix-selector join
        replicates every raw sample into range/step windows.  Here the
        window [t−range, t] (inclusive both ends, evaluateMatrixSelector
        parity) is decomposed into range/step half-open step buckets plus
        the left-edge point; raw samples are aggregated ONCE into
        per-(series, bucket) partials, and each eval point merges its
        range/step partials — the shuffle carries partials, not samples.
        Exactly the slow path's semantics (shared window accounting in
        ``_merge_partials_udf``)."""
        b = ctx.step_ms
        k = sel.range_ms // b
        off = sel.offset_ms
        anchor = (ctx.start_ms - off - sel.range_ms) % b
        s = self._base(sel)
        # exact integer floor-division bucket id: bucket m covers
        # (anchor+(m-1)b, anchor+m·b]
        x = F.col("ts_millis") - F.lit(anchor) - F.lit(1)
        bucket = ((x - F.pmod(x, F.lit(b))) / F.lit(b)).cast("long") + F.lit(1)
        s = s.withColumn("__bucket", bucket)
        arr = F.array_sort(
            F.collect_list(F.struct(F.col("ts_millis").alias("ts"), F.col("value").alias("v")))
        )
        partial = (
            s.groupBy(_series_key(F.col("labels")).alias("skey"), "__bucket")
            .agg(
                F.any_value("labels").alias("labels"),
                arr.alias("__arr"),
            )
            .select(
                "skey", "__bucket", "labels",
                F.struct(
                    F.col("__bucket").alias("bucket"),
                    F.size("__arr").alias("n"),
                    F.aggregate(
                        "__arr", F.lit(0.0), lambda a, e: a + e["v"]
                    ).alias("s"),
                    F.array_min(F.transform("__arr", lambda e: e["v"])).alias("mn"),
                    F.array_max(F.transform("__arr", lambda e: e["v"])).alias("mx"),
                    F.element_at("__arr", 1)["ts"].alias("first_ts"),
                    F.element_at("__arr", 1)["v"].alias("first_v"),
                    F.element_at("__arr", -1)["ts"].alias("last_ts"),
                    F.element_at("__arr", -1)["v"].alias("last_v"),
                    F.slice(
                        "__arr",
                        F.greatest(F.size("__arr") - 1, F.lit(1)),
                        F.lit(2),
                    ).alias("last2"),
                    # internal increase with counter resets (pairwise scan)
                    F.aggregate(
                        F.slice("__arr", 2, F.greatest(F.size("__arr") - 1, F.lit(0))),
                        F.struct(
                            F.element_at("__arr", 1)["v"].alias("prev"),
                            F.lit(0.0).alias("acc"),
                        ),
                        lambda a, e: F.struct(
                            e["v"].alias("prev"),
                            (
                                a["acc"]
                                + F.when(e["v"] < a["prev"], e["v"]).otherwise(
                                    e["v"] - a["prev"]
                                )
                            ).alias("acc"),
                        ),
                        lambda a: a["acc"],
                    ).alias("inc"),
                ).alias("p"),
            )
        )
        # grid → its k covering buckets (tiny frame; broadcast join)
        b_hi = ((F.col("eval_ts") - F.lit(off) - F.lit(anchor)) / F.lit(b)).cast("long")
        grid_b = ctx.grid.select(
            "eval_ts",
            F.explode(F.sequence(b_hi - F.lit(k - 1), b_hi)).alias("__bucket"),
        )
        joined = partial.join(F.broadcast(grid_b), "__bucket").select(
            "skey", "eval_ts", "labels", "p"
        )
        # left-edge point of each window (inclusive [t−range, t]): samples
        # at exactly anchor (mod b) become one-sample virtual partials
        edge = s.filter(F.pmod(F.col("ts_millis") - F.lit(anchor), F.lit(b)) == 0)
        edge_b = ctx.grid.select(
            "eval_ts", (b_hi - F.lit(k)).alias("__bucket")
        )
        one = F.struct(F.col("ts_millis").alias("ts"), F.col("value").alias("v"))
        edge_p = (
            edge.join(F.broadcast(edge_b), "__bucket")
            .select(
                _series_key(F.col("labels")).alias("skey"),
                "eval_ts",
                "labels",
                F.struct(
                    F.col("__bucket").alias("bucket"),
                    F.lit(1).alias("n"),
                    F.col("value").alias("s"),
                    F.col("value").alias("mn"),
                    F.col("value").alias("mx"),
                    F.col("ts_millis").alias("first_ts"),
                    F.col("value").alias("first_v"),
                    F.col("ts_millis").alias("last_ts"),
                    F.col("value").alias("last_v"),
                    F.array(one).alias("last2"),
                    F.lit(0.0).alias("inc"),
                ).alias("p"),
            )
        )
        merged = (
            joined.unionByName(edge_p)
            .groupBy("skey", "eval_ts")
            .agg(
                F.any_value("labels").alias("labels"),
                F.array_sort(F.collect_list("p")).alias("parts"),
            )
            .withColumn("range_start", F.col("eval_ts") - F.lit(off) - F.lit(sel.range_ms))
            .withColumn("range_end", F.col("eval_ts") - F.lit(off))
        )
        return merged.select(
            "skey", "eval_ts", "labels",
            _merge_partials_udf()(
                F.col("parts"), F.col("range_start"), F.col("range_end"), F.lit(fname)
            ).alias("value"),
        )

    # -- functions / aggregations -------------------------------------------

    def _function(self, fn: Func, ctx: _Ctx):
        if fn.name in _RANGE_FUNCS:
            sel = fn.args[0]
            if not isinstance(sel, Selector) or not sel.range_ms:
                raise ValueError(f"{fn.name} needs a range vector like x[5m]")
            if (
                ctx.step_ms
                and ctx.start_ms is not None
                and sel.range_ms % ctx.step_ms == 0
                and sel.range_ms // ctx.step_ms >= 2
            ):
                return self._range_function_bucketed(fn.name, sel, ctx)
            rv = self._range_vector(sel, ctx)
            return rv.select(
                "skey", "eval_ts", "labels",
                _range_reduce_udf()(
                    F.col("samples"), F.col("range_start"), F.col("range_end"),
                    F.lit(fn.name),
                ).alias("value"),
            )
        v = self._eval(fn.args[0], ctx)
        if isinstance(v, float):
            import math

            return {
                "abs": abs(v), "ceil": math.ceil(v), "floor": math.floor(v),
                "round": round(v), "exp": math.exp(v), "ln": math.log(v),
                "sqrt": math.sqrt(v),
            }[fn.name]
        c = F.col("value")
        if fn.name in ("clamp_min", "clamp_max"):
            bound = self._eval(fn.args[1], ctx)
            out = (
                F.greatest(c, F.lit(bound))
                if fn.name == "clamp_min"
                else F.least(c, F.lit(bound))
            )
        else:
            out = {
                "abs": F.abs(c), "ceil": F.ceil(c).cast("double"),
                "floor": F.floor(c).cast("double"), "round": F.round(c, 0),
                "exp": F.exp(c), "ln": F.log(c), "sqrt": F.sqrt(c),
            }[fn.name]
        return v.withColumn("value", out)

    def _aggregate(self, agg: Agg, ctx: _Ctx) -> DataFrame:
        v = self._eval(agg.expr, ctx)
        if isinstance(v, float):
            raise ValueError("Aggregation needs a vector argument")
        if agg.labels:
            if agg.without:
                drop = F.array(*[F.lit(l) for l in agg.labels])
                glabels = F.map_filter(
                    F.col("labels"), lambda k, _: ~F.array_contains(drop, k)
                )
            else:
                keep = F.array(*[F.lit(l) for l in agg.labels])
                glabels = F.map_filter(
                    F.col("labels"), lambda k, _: F.array_contains(keep, k)
                )
        else:
            glabels = F.create_map().cast("map<string,string>")
        v = v.withColumn("glabels", glabels).withColumn(
            "gkey", _series_key(F.col("glabels"))
        )
        if agg.op in ("topk", "bottomk"):
            k = int(self._eval(agg.param, ctx)) if agg.param is not None else 1
            order = F.desc("value") if agg.op == "topk" else F.asc("value")
            w = Window.partitionBy("gkey", "eval_ts").orderBy(order, F.asc("skey"))
            return (
                v.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= k)
                .select("skey", "eval_ts", "labels", "value")
            )
        col = {
            "sum": F.sum("value"), "avg": F.avg("value"),
            "min": F.min("value"), "max": F.max("value"),
            "count": F.count("value").cast("double"),
        }[agg.op]
        return (
            v.groupBy("gkey", "eval_ts")
            .agg(col.alias("value"), F.any_value("glabels").alias("labels"))
            .withColumnRenamed("gkey", "skey")
        )

    # -- binary ops ----------------------------------------------------------

    def _binary(self, b: Bin, ctx: _Ctx):
        l = self._eval(b.left, ctx)
        r = self._eval(b.right, ctx)
        if isinstance(l, float) and isinstance(r, float):
            return _scalar_op(b.op, l, r)
        if b.op in ("and", "or", "unless"):
            if isinstance(l, float) or isinstance(r, float):
                raise ValueError(f"{b.op} needs vector operands")
            if b.op == "and":
                return l.join(
                    r.select("skey", "eval_ts"), ["skey", "eval_ts"], "left_semi"
                )
            if b.op == "unless":
                return l.join(
                    r.select("skey", "eval_ts"), ["skey", "eval_ts"], "left_anti"
                )
            extra = r.join(
                l.select("skey", "eval_ts"), ["skey", "eval_ts"], "left_anti"
            )
            return l.unionByName(extra)
        if isinstance(l, float) or isinstance(r, float):
            v, scalar, flipped = (r, l, True) if isinstance(l, float) else (l, r, False)
            lhs, rhs = (
                (F.lit(scalar), F.col("value")) if flipped
                else (F.col("value"), F.lit(scalar))
            )
            if b.op in ("==", "!=", "<", ">", "<=", ">="):
                return v.filter(_cmp_cond(b.op, lhs, rhs))
            return v.withColumn("value", _arith(b.op, lhs, rhs))
        # vector ⋈ vector on identical label sets
        rr = r.select(
            "skey", "eval_ts", F.col("value").alias("__rv")
        )
        j = l.join(rr, ["skey", "eval_ts"], "inner")
        if b.op in ("==", "!=", "<", ">", "<=", ">="):
            return j.filter(
                _cmp_cond(b.op, F.col("value"), F.col("__rv"))
            ).drop("__rv")
        return j.withColumn(
            "value", _arith(b.op, F.col("value"), F.col("__rv"))
        ).drop("__rv")


def _arith(op: str, a: Column, b: Column) -> Column:
    return {
        "+": a + b, "-": a - b, "*": a * b, "/": a / b,
        "%": a % b, "^": F.pow(a, b),
    }[op]


def _cmp_cond(op: str, a: Column, b: Column) -> Column:
    return {
        "==": a == b, "!=": a != b, "<": a < b,
        ">": a > b, "<=": a <= b, ">=": a >= b,
    }[op]


def _scalar_op(op: str, a: float, b: float) -> float:
    import math

    return {
        "+": a + b, "-": a - b, "*": a * b, "/": a / b,
        "%": math.fmod(a, b), "^": a ** b,
        "==": 1.0 if a == b else 0.0, "!=": 1.0 if a != b else 0.0,
        "<": 1.0 if a < b else 0.0, ">": 1.0 if a > b else 0.0,
        "<=": 1.0 if a <= b else 0.0, ">=": 1.0 if a >= b else 0.0,
    }[op]


def promql_instant(
    metrics: DataFrame, query: str, time_ms: int,
    lookback_ms: int = DEFAULT_LOOKBACK_MS,
) -> DataFrame:
    return PromQLEvaluator(metrics, lookback_ms).instant(query, time_ms)


def promql_range(
    metrics: DataFrame, query: str, start_ms: int, end_ms: int, step_ms: int,
    lookback_ms: int = DEFAULT_LOOKBACK_MS,
) -> DataFrame:
    return PromQLEvaluator(metrics, lookback_ms).range_query(
        query, start_ms, end_ms, step_ms
    )

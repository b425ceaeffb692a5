"""InfluxDB line-protocol ingestion.

Parity: engine/timeseries/LineProtocolParser.java —
``measurement[,tag=v…] field=value[,field=value…] [timestamp]`` with
type suffixes (no suffix = double, ``i`` = long, quoted = string,
true/false = boolean), backslash escaping of commas/spaces/equals,
``#`` comments, malformed lines skipped, timestamp precision
ns (default) / us / ms / s narrowed to epoch millis.

Spark shape: ``spark.read.text`` distributes the raw lines, then one
``mapInPandas`` pass parses each partition's batch — so a 100 TB ingest
parallelizes by file split exactly like any text source, with no
driver-side loop.  Field values land in per-type maps
(``fields_double`` / ``fields_long`` / ``fields_str`` / ``fields_bool``)
because line protocol is schema-less per line; project + explode the map
you need downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from arcadedb_spark.session import local_df

_SCHEMA = (
    "measurement string, tags map<string,string>, "
    "fields_double map<string,double>, fields_long map<string,long>, "
    "fields_str map<string,string>, fields_bool map<string,boolean>, "
    "ts_millis long"
)

_PRECISION_DIV_MUL = {
    "ns": (1_000_000, 1), "us": (1_000, 1), "u": (1_000, 1),
    "ms": (1, 1), "s": (1, 1000),
}


def _split_escaped(s: str, sep: str) -> list[str]:
    """Split on ``sep`` unless backslash-escaped or inside double quotes.
    Escapes are PRESERVED so nested splits (space → comma → equals) keep
    seeing them; ``_unescape`` strips them at the leaf values."""
    out, cur, i, in_quotes = [], [], 0, False
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            cur.append(c)
            cur.append(s[i + 1])
            i += 2
            continue
        if c == '"':
            in_quotes = not in_quotes
            cur.append(c)
        elif c == sep and not in_quotes:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(c)
        i += 1
    out.append("".join(cur))
    return out


def _unescape(s: str) -> str:
    out, i = [], 0
    while i < len(s):
        if s[i] == "\\" and i + 1 < len(s):
            out.append(s[i + 1])
            i += 2
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def parse_line(line: str, precision: str = "ns") -> dict | None:
    """One line → sample dict, or None when malformed
    (LineProtocolParser.parseLine returns null on bad lines)."""
    line = line.strip()
    if not line or line.startswith("#"):
        return None
    # measurement+tags SPACE fields [SPACE timestamp] — spaces inside
    # quoted field values and escaped spaces don't split
    parts = _split_escaped(line, " ")
    parts = [p for p in parts if p != ""]
    if len(parts) < 2:
        return None
    head, field_part = parts[0], parts[1]
    ts_part = parts[2] if len(parts) > 2 else None

    head_items = _split_escaped(head, ",")
    measurement = _unescape(head_items[0])
    if not measurement:
        return None
    tags: dict[str, str] = {}
    for t in head_items[1:]:
        kv = _split_escaped(t, "=")
        if len(kv) != 2 or not kv[0]:
            return None
        tags[_unescape(kv[0])] = _unescape(kv[1])

    fd: dict[str, float] = {}
    fl: dict[str, int] = {}
    fs: dict[str, str] = {}
    fb: dict[str, bool] = {}
    for item in _split_escaped(field_part, ","):
        kv = _split_escaped(item, "=")
        if len(kv) != 2 or not kv[0]:
            return None
        k, v = _unescape(kv[0]), kv[1]
        if v.startswith('"') and v.endswith('"') and len(v) >= 2:
            fs[k] = _unescape(v[1:-1])
        elif v in ("true", "True", "TRUE", "t", "T"):
            fb[k] = True
        elif v in ("false", "False", "FALSE", "f", "F"):
            fb[k] = False
        elif v.endswith(("i", "u")):
            try:
                fl[k] = int(v[:-1])
            except ValueError:
                return None
        else:
            try:
                fd[k] = float(v)
            except ValueError:
                return None
    if not (fd or fl or fs or fb):
        return None

    div, mul = _PRECISION_DIV_MUL.get(precision.lower(), (1_000_000, 1))
    if ts_part is not None:
        try:
            ts_millis = (int(ts_part) // div) * mul
        except ValueError:
            return None
    else:
        ts_millis = None  # reference stamps server time; we leave null
    return {
        "measurement": measurement, "tags": tags,
        "fields_double": fd, "fields_long": fl,
        "fields_str": fs, "fields_bool": fb,
        "ts_millis": ts_millis,
    }


def parse_text(text: str, precision: str = "ns") -> list[dict]:
    """Driver-side convenience: parse a protocol payload string."""
    out = []
    for raw in text.splitlines():
        s = parse_line(raw, precision)
        if s is not None:
            out.append(s)
    return out


def read_line_protocol(
    spark: SparkSession, path: str, precision: str = "ns"
) -> DataFrame:
    """Distributed reader: text splits → per-partition pandas parse."""
    raw = spark.read.text(path)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for line in pdf["value"]:
                s = parse_line(line, precision)
                if s is not None:
                    rows.append(s)
            if rows:
                yield pd.DataFrame(rows)

    return raw.mapInPandas(gen, _SCHEMA)


def line_protocol_df(
    spark: SparkSession, text: str, precision: str = "ns"
) -> DataFrame:
    """Parse an in-memory payload into the same schema (HTTP-ingest
    analog of server/http ... api/v1/ts endpoints)."""
    return local_df(spark, parse_text(text, precision), _SCHEMA)

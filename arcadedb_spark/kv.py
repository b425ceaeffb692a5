"""Redis-style key/value surface.

Parity: the redisw/ module exposes GET/SET/DEL/EXISTS/KEYS/MGET/INCR
over types keyed by a string key (wire protocol is out of scope — this
is the command surface over the same engine).

Semantics: values are strings (Redis strings); SET upserts; INCR treats
the value as an integer counter.  Point reads filter on the key column —
at 100 TB the backing table would be bucketed by key so the filter
prunes to one bucket; writes are whole-table rewrites with documented
non-transactional semantics (the same DML model as UPDATE/DELETE).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from arcadedb_spark.session import local_df

_SCHEMA = "key string, value string"


class KeyValueStore:
    # plan-lineage cap: every write stacks filter+union nodes on the
    # cached frame; a long sequential command stream would chain
    # thousands of plan nodes (analysis cost grows per command).  Every
    # N writes the frame is localCheckpoint-frozen, which resets the
    # lineage to a materialized block scan.
    _CHECKPOINT_EVERY = 64

    def __init__(self, db, type_name: str) -> None:
        self.db = db
        self.type_name = type_name
        self._writes = 0
        if not db.schema.exists(type_name):
            db.schema.register(
                type_name, local_df(db.spark, [], _SCHEMA), key="key"
            )

    def _df(self):
        return self.db.schema.get(self.type_name).df()

    def _freeze(self, df):
        self._writes += 1
        if self._writes % self._CHECKPOINT_EVERY == 0:
            return df.localCheckpoint(eager=True)
        return df

    def _replace(self, df) -> None:
        tdef = self.db.schema.get(self.type_name)
        tdef._df = self._freeze(df).cache()
        self.db._plan_cache.clear()

    # -- commands -----------------------------------------------------------

    def set(self, key: str, value) -> None:
        """SET — upsert one key."""
        new = local_df(self.db.spark, [(key, str(value))], _SCHEMA)
        self._replace(
            self._df().filter(F.col("key") != key).unionByName(new)
        )

    def mset(self, mapping: dict) -> None:
        new = local_df(
            self.db.spark, [(k, str(v)) for k, v in mapping.items()], _SCHEMA
        )
        self._replace(
            self._df().filter(~F.col("key").isin(list(mapping))).unionByName(new)
        )

    # Point reads run ONE plain action: keys are unique (every write
    # filters its keys out before the union), so the filter returns at
    # most one row, and a limit(1) would let Spark's incremental take
    # fire 2-3 jobs over a many-partition state.

    def get(self, key: str) -> str | None:
        rows = self._df().filter(F.col("key") == key).select("value").collect()
        return rows[0]["value"] if rows else None

    def mget(self, keys: list[str]) -> dict:
        rows = self._df().filter(F.col("key").isin(keys)).collect()
        found = {r["key"]: r["value"] for r in rows}
        return {k: found.get(k) for k in keys}

    def exists(self, key: str) -> bool:
        return bool(self._df().filter(F.col("key") == key).select("key").collect())

    def delete(self, *keys: str) -> int:
        df = self._df()
        n = df.filter(F.col("key").isin(list(keys))).count()
        if n:
            self._replace(df.filter(~F.col("key").isin(list(keys))))
        return n

    def keys(self, pattern: str = "*") -> list[str]:
        """KEYS with Redis glob (* and ?)."""
        rx = "^" + pattern.replace("*", ".*").replace("?", ".") + "$"
        return [
            r["key"]
            for r in self._df().filter(F.col("key").rlike(rx)).select("key").collect()
        ]

    def incr(self, key: str, by: int = 1) -> int:
        cur = self.get(key)
        val = (int(cur) if cur is not None else 0) + by
        self.set(key, val)
        return val

    def dbsize(self) -> int:
        return self._df().count()

    # -- string tail (RedisNetworkExecutor.java:237-298) ---------------------

    def getdel(self, key: str) -> str | None:
        """GETDEL — return the value then delete the key
        (RedisNetworkExecutor.getDel:385)."""
        v = self.get(key)
        if v is not None:
            self.delete(key)
        return v

    def decr(self, key: str, by: int = 1) -> int:
        """DECR/DECRBY (RedisNetworkExecutor.decrBy:351) — missing key
        counts from 0; a non-integer value is an error."""
        cur = self.get(key)
        if cur is not None:
            try:
                cur = int(cur)
            except ValueError:
                raise ValueError(f"Key '{key}' is not a number") from None
        val = (cur if cur is not None else 0) - by
        self.set(key, val)
        return val

    def incrbyfloat(self, key: str, by: float) -> float:
        """INCRBYFLOAT (RedisNetworkExecutor.incrBy(…, true))."""
        cur = self.get(key)
        if cur is not None:
            try:
                cur = float(cur)
            except ValueError:
                raise ValueError(f"Key '{key}' is not a number") from None
        val = (cur if cur is not None else 0.0) + float(by)
        self.set(key, val)
        return val

    # -- hash commands (RedisNetworkExecutor.java hSet/hGet/hMGet/hDel/
    #    hExists) — a (key, field, value) frame; at 100 TB the table
    #    would be bucketed by key so every point op prunes to one bucket

    _HASH_SCHEMA = "key string, field string, value string"

    def _hdf(self):
        hname = f"{self.type_name}__hash"
        if not self.db.schema.exists(hname):
            self.db.schema.register(
                hname,
                local_df(self.db.spark, [], self._HASH_SCHEMA),
                key="key",
            )
        return self.db.schema.get(hname).df()

    def _hreplace(self, df) -> None:
        tdef = self.db.schema.get(f"{self.type_name}__hash")
        tdef._df = self._freeze(df).cache()
        self.db._plan_cache.clear()

    def hset(self, key: str, mapping: dict | None = None, **fields) -> int:
        """HSET/HMSET — upsert fields of one hash; returns the number of
        NEW fields (Redis HSET reply)."""
        items = dict(mapping or {}, **fields)
        if not items:
            return 0
        df = self._hdf()
        existing = {
            r["field"]
            for r in df.filter(
                (F.col("key") == key) & F.col("field").isin(list(items))
            ).select("field").collect()
        }
        new = local_df(
            self.db.spark,
            [(key, f, str(v)) for f, v in items.items()], self._HASH_SCHEMA
        )
        self._hreplace(
            df.filter(
                ~((F.col("key") == key) & F.col("field").isin(list(items)))
            ).unionByName(new)
        )
        return len(items) - len(existing)

    def hget(self, key: str, field: str) -> str | None:
        rows = self._hdf().filter(
            (F.col("key") == key) & (F.col("field") == field)
        ).select("value").collect()
        return rows[0]["value"] if rows else None

    def hmget(self, key: str, fields: list[str]) -> dict:
        rows = self._hdf().filter(
            (F.col("key") == key) & F.col("field").isin(list(fields))
        ).collect()
        found = {r["field"]: r["value"] for r in rows}
        return {f: found.get(f) for f in fields}

    def hgetall(self, key: str) -> dict:
        return {
            r["field"]: r["value"]
            for r in self._hdf().filter(F.col("key") == key).collect()
        }

    def hdel(self, key: str, *fields: str) -> int:
        df = self._hdf()
        cond = (F.col("key") == key) & F.col("field").isin(list(fields))
        n = df.filter(cond).count()
        if n:
            self._hreplace(df.filter(~cond))
        return n

    def hexists(self, key: str, field: str) -> bool:
        return bool(
            self._hdf().filter(
                (F.col("key") == key) & (F.col("field") == field)
            ).select("key").collect()
        )

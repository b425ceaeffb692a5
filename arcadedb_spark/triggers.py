"""Triggers: BEFORE/AFTER × CREATE/UPDATE/DELETE hooks on types.

Reference: schema/trigger/TriggerExecutor.java + SQLTriggerExecutor.java
(SQL triggers run per record with ``:record`` / ``:oldRecord`` params;
BEFORE triggers veto by failing), registered via
parser/CreateTriggerStatement.java and fired from RecordEvents.

Spark adaptation: DML here is batch-oriented, so triggers fire once per
affected record driver-side behind an explicit cap (they are a
control-flow feature, like SQL scripts — bulk pipelines should use the
streaming hook instead).  :func:`stream_after_create` is the
Structured-Streaming analog of the reference's live event bus
(server/ws/WebSocketEventBus.java): a ``foreachBatch`` sink that fires
AFTER-CREATE triggers per micro-batch.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from arcadedb_spark.catalog import store

MAX_TRIGGER_ROWS = 10_000

_TIMINGS = ("BEFORE", "AFTER")
_EVENTS = ("CREATE", "READ", "UPDATE", "DELETE")


class TriggerAborted(Exception):
    """A BEFORE trigger vetoed the statement."""


@dataclass
class Trigger:
    name: str
    timing: str  # BEFORE | AFTER
    event: str  # CREATE | READ | UPDATE | DELETE
    type_name: str
    language: str  # sql | python
    code: str | None = None  # SQL text
    fn: Callable | None = None  # python callable(record, old) -> bool|None


def _registry(db) -> dict:
    if not hasattr(db, "_triggers"):
        db._triggers = {}
    return db._triggers


def register_trigger(
    db, name: str, timing: str, event: str, type_name: str,
    *, sql: str | None = None, fn: Callable | None = None,
    if_not_exists: bool = False,
) -> None:
    timing = timing.upper()
    event = event.upper()
    if timing not in _TIMINGS:
        raise ValueError(f"Trigger timing must be BEFORE/AFTER, got {timing}")
    if event not in _EVENTS:
        raise ValueError(f"Trigger event must be one of {_EVENTS}")
    if (sql is None) == (fn is None):
        raise ValueError("Exactly one of sql= / fn= is required")
    reg = _registry(db)
    if name in reg:
        if if_not_exists:
            return
        raise ValueError(f"Trigger '{name}' already exists")
    reg[name] = Trigger(
        name=name, timing=timing, event=event,
        type_name=type_name.lower(),
        language="sql" if sql is not None else "python",
        code=sql, fn=fn,
    )


def drop_trigger(db, name: str, if_exists: bool = False) -> bool:
    reg = _registry(db)
    if name not in reg:
        if if_exists:
            return False
        raise KeyError(f"Trigger '{name}' not found")
    del reg[name]
    return True


def matching(db, timing: str, event: str, type_name: str) -> list[Trigger]:
    return [
        t for t in _registry(db).values()
        if t.timing == timing.upper() and t.event == event.upper()
        and t.type_name == type_name.lower()
    ]


def fire(
    db, timing: str, event: str, type_name: str,
    records: list[dict], old_records: list[dict] | None = None,
) -> None:
    """Fire matching triggers once per affected record.

    BEFORE triggers veto by raising (SQL error) or returning False
    (python) — the whole statement is then aborted via TriggerAborted,
    matching the reference's transactional veto semantics."""
    trigs = matching(db, timing, event, type_name)
    if not trigs:
        return
    if len(records) > MAX_TRIGGER_ROWS:
        raise TriggerAborted(
            f"{timing} {event} triggers on '{type_name}' fire per record "
            f"driver-side; statement touches {len(records)} > "
            f"{MAX_TRIGGER_ROWS} records. Use the streaming trigger path "
            f"(stream_after_create) for bulk flows."
        )
    for t in trigs:
        for i, rec in enumerate(records):
            old = old_records[i] if old_records else None
            if t.language == "python":
                ok = t.fn(rec, old)
                if t.timing == "BEFORE" and ok is False:
                    raise TriggerAborted(
                        f"Trigger '{t.name}' vetoed {event} on {type_name}"
                    )
            else:
                params = {"record": rec, "$record": rec}
                if old is not None:
                    params["oldRecord"] = old
                    params["$oldRecord"] = old
                try:
                    db.command(t.code, **params).collect()
                except Exception as e:  # noqa: BLE001 — veto semantics
                    if t.timing == "BEFORE":
                        raise TriggerAborted(
                            f"Trigger '{t.name}' failed: {e}"
                        ) from e
                    raise


def stream_after_create(
    db, stream_df, type_name: str, checkpoint: str | None = None,
    trigger_interval: str = "1 second",
):
    """Structured-Streaming live-trigger sink: every micro-batch appends
    to ``type_name``'s frame and fires AFTER CREATE triggers on the new
    rows (foreachBatch — the Spark-native form of the reference's
    WebSocket event bus / live subscription push)."""

    def on_batch(batch_df, batch_id: int) -> None:
        rows = [r.asDict(recursive=True) for r in batch_df.collect()]
        if not rows:
            return
        tdef = db.schema.get(type_name)
        store(tdef, tdef.df().unionByName(batch_df, allowMissingColumns=True))
        fire(db, "AFTER", "CREATE", type_name, rows)

    writer = (
        stream_df.writeStream.outputMode("append")
        .trigger(processingTime=trigger_interval)
        .foreachBatch(on_batch)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()

"""Dashboard side of the benchmark: history staging, the request mix, a
protocol client, and the reply checks.

Requests go to ``nntsc_spark.export.server.ExportServer`` over loopback TCP
in the ``nntsc_spark.export.protocol`` framing.  Replies are checked against
DuckDB over the generated ``events.parquet``, never against the engine.
"""

from __future__ import annotations

import math
import random
import socket
import struct
import time
from dataclasses import dataclass, field

from nntsc_spark.export.protocol import (
    CLIENTAPI_VERSION,
    HDR_FMT,
    HDR_LEN,
    Msg,
    Req,
    bounded_decompress,
    pack,
    safe_loads,
)

from . import datagen

HOUR, MINUTE, DAY = 3600, 60, 86400
#: (request kind, share of the mix)
MIX = [("aggregate", 0.50), ("matrix", 0.25), ("subscribe", 0.15), ("streams", 0.10)]
#: one cycle of 20 (kind, variant) requests in the mix's proportions,
#: interleaved, with each kind's two span variants alternating.  Client i of
#: n starts at offset i * 20 / n, so the clients together send the same
#: proportions in every run; the seed varies the streams and time spans.
CYCLE = [
    ("aggregate", 0), ("matrix", 0), ("aggregate", 1), ("subscribe", 0),
    ("aggregate", 0), ("streams", 0), ("aggregate", 1), ("matrix", 1),
    ("aggregate", 0), ("subscribe", 0),
    ("aggregate", 1), ("matrix", 0), ("aggregate", 0), ("matrix", 1),
    ("aggregate", 1), ("streams", 0), ("aggregate", 0), ("matrix", 0),
    ("aggregate", 1), ("subscribe", 0),
]
AGGCOLS = [("value", "avg"), ("value", "max"), ("value", "min"), ("value", "count")]
N_LABELS, STREAMS_PER_LABEL = 4, 5


def stage_history(spark, work: str, seed: int, scale: str) -> tuple[dict, str, int]:
    """Write seeded ``events`` through the engine's storage layer.

    The fact goes in with ``storage.write_fact``; hourly and minute rollups
    are built with ``operators.rollup.build_rollup`` and stored with
    ``storage.write_dimension``, so MATRIX takes the stored-rollup path.
    Returns (collection entry for ExportServer, events parquet dir, streams).
    """
    from nntsc_spark.operators.rollup import build_rollup
    from nntsc_spark.sources.tables import events_fact
    from nntsc_spark.storage import read_dimension, read_fact, write_dimension, write_fact

    src = f"{work}/events-src"
    size = datagen.write_tables(src, seed, scale, ("events",))
    write_fact(events_fact(spark, src), f"{work}/events-fact")
    fact = read_fact(spark, f"{work}/events-fact")
    rollups = {}
    for binsize in (HOUR, MINUTE):
        path = f"{work}/events-rollup-{binsize}"
        write_dimension(build_rollup(fact, binsize, ["value"]), path)
        rollups[binsize] = read_dimension(spark, path)
    streams = spark.createDataFrame(
        [(i, "amp-bench", f"dst{i}") for i in range(size["streams"])],
        "stream_id long, source string, destination string",
    )
    write_dimension(streams, f"{work}/events-streams")
    coll = {
        "fact": fact,
        "streams": read_dimension(spark, f"{work}/events-streams"),
        "rollups": rollups,
    }
    return coll, src, size["streams"]


# -- request mix ---------------------------------------------------------


def make_request(
    rng: random.Random, kind: str, variant: int, collection: str, n_streams: int
) -> tuple[str, Msg, dict]:
    """A request of ``kind`` with seeded streams and start time.  For
    AGGREGATE, variant 0 is a 1-day span in 300 s bins and variant 1 a
    7-day span in 3600 s bins; for MATRIX, a 1-day (hourly rollup) or a
    30-minute (minute rollup) span."""
    if kind == "streams":
        return kind, Msg.REQUEST, {
            "request": int(Req.STREAMS), "collection": collection, "minid": 0,
        }
    ids = rng.sample(range(n_streams), min(n_streams, N_LABELS * STREAMS_PER_LABEL))
    per = max(1, len(ids) // N_LABELS)
    labels = {f"L{i}": ids[i * per:(i + 1) * per] for i in range(N_LABELS)}
    labels = {k: v for k, v in labels.items() if v}
    if kind == "aggregate":
        span, binsize = [(DAY, 300), (7 * DAY, HOUR)][variant]
        start = datagen.T0 + rng.randrange(0, datagen.DAYS * DAY - span, 300)
        return kind, Msg.AGGREGATE, {
            "collection": collection, "labels": labels, "aggcols": AGGCOLS,
            "start": start, "stop": start + span - 1, "binsize": binsize,
        }
    if kind == "matrix":
        span = [DAY, 30 * MINUTE][variant]
        start = datagen.T0 + DAY + rng.randrange(0, (datagen.DAYS - 2) * DAY, MINUTE)
        return kind, Msg.MATRIX, {
            "collection": collection, "labels": labels, "value_cols": ["value"],
            "start": start, "stop": start + span,
        }
    start = datagen.T0 + rng.randrange(0, (datagen.DAYS - 1) * DAY, MINUTE)
    return kind, Msg.SUBSCRIBE, {
        "collection": collection, "labels": labels, "columns": ["value"],
        "start": start, "stop": start + DAY,
    }


# -- protocol client -----------------------------------------------------


def _read_exact(sock: socket.socket, n: int) -> bytes:
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("server closed the connection")
        buf += chunk
    return bytes(buf)


def read_frame(sock: socket.socket) -> tuple[Msg, object, int]:
    """One framed message and its size on the wire."""
    mtype, length = struct.unpack(HDR_FMT, _read_exact(sock, HDR_LEN))
    body = safe_loads(bounded_decompress(_read_exact(sock, length)))
    return Msg(mtype), body, HDR_LEN + length


@dataclass
class Reply:
    kind: str
    body: dict
    t_send: float
    t_done: float = 0.0
    frames: int = 0
    nbytes: int = 0
    error: str | None = None
    messages: list = field(default_factory=list)

    @property
    def latency(self) -> float:
        return self.t_done - self.t_send


class Client:
    """One connection; ``request`` sends and blocks until the reply is whole."""

    def __init__(self, port: int, timeout: float = 120.0) -> None:
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=timeout)
        mtype, body, _ = read_frame(self.sock)
        if mtype != Msg.VERSION_CHECK or body != CLIENTAPI_VERSION:
            raise ConnectionError(f"bad handshake {mtype} {body!r}")

    def close(self) -> None:
        """Shut the socket down first: that wakes a thread blocked in recv."""
        try:
            self.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.sock.close()

    def request(self, kind: str, mtype: Msg, body: dict) -> Reply:
        rep = Reply(kind, body, time.monotonic())
        self.sock.sendall(pack(mtype, body))
        pending = set(body.get("labels", ()))
        while True:
            t, msg, n = read_frame(self.sock)
            rep.frames += 1
            rep.nbytes += n
            rep.messages.append((t, msg))
            if t in (Msg.ERROR, Msg.QUERY_CANCELLED):
                rep.error = f"{t.name}: {msg}"
                break
            if kind in ("aggregate", "subscribe") and t == Msg.HISTORY_DONE:
                pending.discard(msg["label"])
                if not pending:
                    break
            elif kind == "matrix" and t == Msg.HISTORY and not msg["more"]:
                break
            elif kind == "streams" and t == Msg.STREAMS and not msg["more"]:
                break
        rep.t_done = time.monotonic()
        return rep

    def dashboard_request(self, kind: str, mtype: Msg, body: dict) -> Reply:
        """A request of the mix; a dashboard drops its live subscription
        (UNSUBSCRIBE, which has no reply) once the history is in."""
        rep = self.request(kind, mtype, body)
        if kind == "subscribe":
            ids = [s for v in body["labels"].values() for s in v]
            self.sock.sendall(
                pack(Msg.UNSUBSCRIBE, {"collection": body["collection"], "streams": ids})
            )
        return rep


# -- reply checks --------------------------------------------------------


class ReplyChecker:
    """Recomputes each reply with DuckDB over the generated events."""

    def __init__(self, events_dir: str, n_streams: int) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE fact AS SELECT user_id AS stream_id, "
            "epoch_us(ts) // 1000000 AS ts, value "
            f"FROM '{events_dir}/events.parquet'"
        )
        self.n_streams = n_streams

    def _labeled(self, labels: dict) -> str:
        vals = ", ".join(
            f"({int(s)}, '{lab}')" for lab, ids in labels.items() for s in ids
        )
        return (
            "SELECT f.*, m.label FROM fact f JOIN (VALUES " + vals +
            ") m(stream_id, label) USING (stream_id)"
        )

    def check(self, rep: Reply) -> str | None:
        """None when the reply is complete and correct, else why not."""
        if rep.error:
            return rep.error
        return getattr(self, f"_check_{rep.kind}")(rep.body, rep.messages)

    def _check_streams(self, body, msgs) -> str | None:
        ids = [r["stream_id"] for t, m in msgs if t == Msg.STREAMS for r in m["streams"]]
        want = [i for i in range(self.n_streams) if i > body["minid"]]
        return None if sorted(ids) == want else f"streams {len(ids)} != {len(want)}"

    def _history(self, body, msgs) -> tuple[dict, dict] | str:
        rows: dict[str, list] = {}
        done: dict[str, int] = {}
        for t, m in msgs:
            if t == Msg.HISTORY:
                rows.setdefault(m["label"], []).extend(m["history"])
            elif t == Msg.HISTORY_DONE:
                if m["label"] in done:
                    return f"duplicate HISTORY_DONE for {m['label']}"
                done[m["label"]] = m["last_ts"]
        if set(done) != set(body["labels"]):
            return f"HISTORY_DONE for {sorted(done)} of {sorted(body['labels'])}"
        return rows, done

    def _check_aggregate(self, body, msgs) -> str | None:
        got = self._history(body, msgs)
        if isinstance(got, str):
            return got
        rows, done = got
        b = body["binsize"]
        want = self.con.execute(
            f"SELECT label, ts - ts % {b} AS binstart, max(ts), avg(value), "
            "max(value), min(value), count(value) FROM (" + self._labeled(body["labels"]) +
            f") WHERE ts BETWEEN {body['start']} AND {body['stop']} GROUP BY 1, 2"
        ).fetchall()
        exp = {(r[0], r[1]): r[2:] for r in want}
        have = {
            (lab, r["binstart"]): (
                r["timestamp"], r["value_avg"], r["value_max"], r["value_min"], r["value_count"]
            )
            for lab, rs in rows.items() for r in rs
        }
        if sum(len(rs) for rs in rows.values()) != len(have):
            return "duplicate bins"
        if set(exp) != set(have):
            return f"bins differ: {len(have)} vs {len(exp)}"
        for k, e in exp.items():
            if not _close(have[k], e):
                return f"bin {k}: {have[k]} != {e}"
        for lab in body["labels"]:
            last = max((r["timestamp"] for r in rows.get(lab, ())), default=0)
            if done[lab] != last:
                return f"last_ts {lab} {done[lab]} != {last}"
        return None

    def _check_subscribe(self, body, msgs) -> str | None:
        got = self._history(body, msgs)
        if isinstance(got, str):
            return got
        rows, _ = got
        want = self.con.execute(
            "SELECT label, stream_id, ts, value FROM (" + self._labeled(body["labels"]) +
            f") WHERE ts BETWEEN {body['start']} AND {body['stop']}"
        ).fetchall()
        have = sorted(
            (lab, r["stream_id"], r["timestamp"], r["value"])
            for lab, rs in rows.items() for r in rs
        )
        return None if have == sorted(want) else f"history rows {len(have)} != {len(want)}"

    def _check_matrix(self, body, msgs) -> str | None:
        cells = [r for t, m in msgs if t == Msg.HISTORY for r in m.get("matrix", ())]
        start, stop = body["start"], body["stop"]
        b = HOUR if stop - start >= HOUR else MINUTE
        if b == HOUR and start % HOUR < 2 * MINUTE:
            start -= HOUR
        lo = start - start % b
        want = self.con.execute(
            "SELECT label, max(ts), sum(value), count(value), max(value), min(value), "
            "avg(value) FROM (" + self._labeled(body["labels"]) +
            f") WHERE ts >= {lo} AND ts - ts % {b} <= {stop} GROUP BY 1"
        ).fetchall()
        exp = {r[0]: r[1:] for r in want}
        have = {
            c["nntsclabel"]: (
                c["timestamp"], c["sum_value"], c["count_value"], c["max_value"],
                c["min_value"], c["avg_value"],
            )
            for c in cells
        }
        if len(have) != len(cells) or set(have) != set(exp):
            return f"matrix labels {sorted(have)} != {sorted(exp)}"
        for k, e in exp.items():
            if not _close(have[k], e):
                return f"matrix {k}: {have[k]} != {e}"
        return None


def _close(a, b) -> bool:
    for x, y in zip(a, b, strict=True):
        if x is None or y is None:
            if x is not y:
                return False
        elif isinstance(x, float) or isinstance(y, float):
            if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                return False
        elif x != y:
            return False
    return True

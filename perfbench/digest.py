"""Order-insensitive digests of the alert, eve_alert and drop sinks and of
the counter row, for the engine's output and for the oracle's.

A sink digest is the SHA-256 of its rows' canonical JSON forms, sorted,
so two sinks with the same multiset of rows have the same digest
whatever order the rows were written in.  Columns are those the Spark
sinks and ``oracle.engine.OracleEngine`` both produce; the eve sink's
renamed and derived columns (timestamp string, flow id, base64 payload)
are rebuilt on the oracle side from the same fields.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os

ALERT_COLS = ("conv_id", "turn_idx", "ts", "gid", "sid", "rev", "msg",
              "classtype", "class_desc", "pri", "ip_src", "src_port",
              "ip_dst", "dst_port", "proto", "text", "action")
# canonical eve row fields, and the eve sink column each is read from
EVE_FIELDS = (("conv_id", "conv_id"), ("turn_idx", "turn_idx"),
              ("timestamp", "timestamp"), ("flow_id", "flow_id"),
              ("gid", "gid"), ("sid", "signature_id"), ("rev", "rev"),
              ("msg", "signature"), ("classtype", "category"),
              ("pri", "severity"), ("ip_src", "src_ip"),
              ("src_port", "src_port"), ("ip_dst", "dest_ip"),
              ("dst_port", "dest_port"), ("proto", "proto"),
              ("text", "payload"), ("action", "action"))
DROP_COLS = ("conv_id", "turn_idx", "ts", "text")
COUNTER_KEYS = ("events_received", "events_processed", "ignore_count",
                "saganfound", "alert_total", "after_total",
                "threshold_total")
SINKS = ("alert", "eve_alert", "drop")


def rows_digest(rows) -> dict:
    """{"rows": n, "sha256": hex} of an iterable of row tuples."""
    lines = sorted(json.dumps(list(r), separators=(",", ":"))
                   for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(lines), "sha256": h.hexdigest()}


# -- oracle side ---------------------------------------------------------

def _epoch(ts) -> int:
    return int(ts.timestamp())


def _eve_timestamp(ts) -> str:
    # the eve sink renders yyyy-MM-dd'T'HH:mm:ss.SSSZ in the UTC session
    return ts.strftime("%Y-%m-%dT%H:%M:%S.") + \
        f"{ts.microsecond // 1000:03d}+0000"


def _flow_id(conv_id: str, turn_idx: int) -> int:
    md5 = hashlib.md5(f"{conv_id}|{turn_idx}".encode()).hexdigest()
    return int(md5[:15], 16)


def oracle_digests(result: dict) -> dict:
    """Digests of an ``OracleEngine.run`` result."""
    alerts = (tuple(_epoch(a["ts"]) if c == "ts" else a[c]
                    for c in ALERT_COLS) for a in result["alerts"])
    eves = []
    for a in result["eve_alerts"]:
        row = dict(a, timestamp=_eve_timestamp(a["ts"]),
                   flow_id=_flow_id(a["conv_id"], a["turn_idx"]))
        eves.append(tuple(row[f] for f, _ in EVE_FIELDS))
    drops = ((d["conv_id"], d["turn_idx"], _epoch(d["ts"]), d["text"])
             for d in result["drops"])
    return {"alert": rows_digest(alerts), "eve_alert": rows_digest(eves),
            "drop": rows_digest(drops),
            "counters": {k: result["counters"][k] for k in COUNTER_KEYS}}


# -- engine side ---------------------------------------------------------

def _read_sink(path: str) -> dict:
    """Column name -> Python list, for a parquet sink directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return {}
    table = pq.read_table(path)
    if table.num_rows == 0:
        return {}
    out = {}
    for name in table.column_names:
        col = table.column(name)
        if pa.types.is_timestamp(col.type):
            per_s = {"s": 1, "ms": 10 ** 3, "us": 10 ** 6,
                     "ns": 10 ** 9}[col.type.unit]
            out[name] = [v // per_s for v in
                         col.cast(pa.int64()).to_pylist()]
        else:
            out[name] = col.to_pylist()
    return out


def _sink_rows(out_dir: str, sink: str):
    cols = _read_sink(os.path.join(out_dir, sink))
    if not cols:
        return ()
    if sink == "alert":
        return zip(*(cols[c] for c in ALERT_COLS))
    if sink == "eve_alert":
        cols["payload"] = [base64.b64decode(p).decode()
                           for p in cols["payload"]]
        return zip(*(cols[c] for _, c in EVE_FIELDS))
    return zip(*(cols[c] for c in DROP_COLS))


def sink_digests(out_dir: str, counters: dict, sinks=SINKS) -> dict:
    """Digests of the ``sinks`` the engine wrote under ``out_dir``, and
    of the counters it returned (those of COUNTER_KEYS it has)."""
    got = {sink: rows_digest(_sink_rows(out_dir, sink)) for sink in sinks}
    got["counters"] = {k: int(counters[k] or 0) for k in COUNTER_KEYS
                       if k in counters}
    return got


def mismatches(got: dict, want: dict) -> list[str]:
    """Differences between the engine's digests and the oracle's, over
    the sinks and counters the engine's side has."""
    bad = []
    for sink in SINKS:
        if sink in got and got[sink] != want[sink]:
            bad.append(f"{sink}: engine {got[sink]['rows']} rows "
                       f"{got[sink]['sha256'][:12]}, oracle "
                       f"{want[sink]['rows']} rows "
                       f"{want[sink]['sha256'][:12]}")
    for k, v in got["counters"].items():
        if v != want["counters"][k]:
            bad.append(f"counter {k}: engine {v}, oracle "
                       f"{want['counters'][k]}")
    return bad

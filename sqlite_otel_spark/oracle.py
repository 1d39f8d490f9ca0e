"""Sequential pure-Python oracle of the reference collector's semantics.

Independent re-implementation (used ONLY as the test ground truth, per
SURVEY §5.2): processes transcript turns one at a time in canonical
arrival order (conv_id, turn_idx), maintaining the six sink tables as
Python structures with real transactional rollback, unique-index
get-or-create, the global spans PRIMARY KEY, and first-definition-wins
metric metadata — i.e. exactly what a single-threaded run of the Go
collector would persist if each turn's ``text`` were POSTed in order.

Deliberately written as a direct sequential simulation (mirroring
database/*.go control flow) rather than sharing the pipeline's
vectorizable code paths, so bugs in the pipeline are visible to tests.
"""

from __future__ import annotations

import json
import math
from typing import Any


def _marshal(obj: Any) -> str:
    """Go json.Marshal: sorted keys, compact, HTML escapes, float64
    number model. Independent twin of functions/canonical_json.py."""

    def norm(o):
        if isinstance(o, float):
            return int(o) if math.isfinite(o) and o.is_integer() and abs(o) < 1e21 else o
        if isinstance(o, dict):
            return {k: norm(v) for k, v in o.items()}
        if isinstance(o, list):
            return [norm(v) for v in o]
        return o

    s = json.dumps(norm(obj), sort_keys=True, separators=(",", ":"), ensure_ascii=False)
    return (
        s.replace("<", "\\u003c").replace(">", "\\u003e").replace("&", "\\u0026")
        .replace("\u2028", "\\u2028").replace("\u2029", "\\u2029")
    )


class _Abort(Exception):
    pass


def _num(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _time_nano(s: str) -> int:
    s = s.strip()
    if s == "":
        return 0
    body = s[1:] if s[:1] in "+-" else s
    if not (body.isascii() and body.isdigit() and body):
        raise _Abort(f"bad timestamp {s!r}")
    v = int(s)
    if not -(2**63) <= v < 2**63:
        raise _Abort("timestamp out of int64 range")
    return v


class OracleDB:
    """In-memory stand-in for the six SQLite tables (database/db.go:53-165)."""

    def __init__(self, max_text_bytes: int = 10 * 1024 * 1024):
        self.max_text_bytes = max_text_bytes
        self.resources: dict[tuple, int] = {}     # (attrs, schema_url) -> id
        self.scopes: dict[tuple, int] = {}        # (name, ver, attrs, url) -> id
        self.metrics: dict[tuple, dict] = {}      # (name, type, rid, sid) -> row
        self.spans: dict[tuple, dict] = {}        # (trace_id, span_id) -> row
        self.log_records: list[dict] = []
        self.points: list[dict] = []
        self.rejects: list[dict] = []             # accounting of failed turns
        self.accepted: list[dict] = []            # accounting of stored turns
        self._next = {"res": 1, "scope": 1, "metric": 1}

    # --- get-or-create dims (database/shared.go) -------------------------

    def _getstr(self, m: dict, key: str, ctx: str) -> str:
        v = m.get(key)
        if v is None:
            return ""
        if isinstance(v, str):
            return v
        raise _Abort(f"{ctx} '{key}' invalid type")

    def _resource(self, tx: dict, resource: dict) -> int:
        attrs = resource.get("attributes")
        if attrs is None:
            attrs = {}
        key = (_marshal(attrs), self._getstr(resource, "schemaUrl", "resource"))
        table = tx["resources"]
        if key not in table:
            table[key] = self._next["res"]
            self._next["res"] += 1
        return table[key]

    def _scope(self, tx: dict, scope: dict) -> int:
        attrs = scope.get("attributes")
        if attrs is None:
            attrs = {}
        key = (
            self._getstr(scope, "name", "scope"),
            self._getstr(scope, "version", "scope"),
            _marshal(attrs),
            self._getstr(scope, "schemaUrl", "scope"),
        )
        table = tx["scopes"]
        if key not in table:
            table[key] = self._next["scope"]
            self._next["scope"] += 1
        return table[key]

    def _metric(self, tx: dict, name, desc, unit, mtype, rid, sid) -> int:
        key = (name, mtype, rid, sid)
        table = tx["metrics"]
        if key not in table:  # first definition wins (shared.go:140-141)
            table[key] = {"id": self._next["metric"], "name": name,
                          "description": desc, "unit": unit, "metric_type": mtype,
                          "resource_id": rid, "scope_id": sid}
            self._next["metric"] += 1
        return table[key]["id"]

    # --- per-signal inserts ----------------------------------------------

    def _insert_span(self, tx: dict, span: dict, rid: int, sid: int) -> None:
        tid = span.get("traceId")
        if not isinstance(tid, str) or tid == "":
            raise _Abort("traceId required")
        spid = span.get("spanId")
        if not isinstance(spid, str) or spid == "":
            raise _Abort("spanId required")
        if (tid, spid) in self.spans or (tid, spid) in tx["spans"]:
            raise _Abort("spans PK violation")
        status = span.get("status") if isinstance(span.get("status"), dict) else {}

        def t(key):
            v = span.get(key)
            return _time_nano(v) if isinstance(v, str) and v != "" else 0

        tx["spans"][(tid, spid)] = {
            "trace_id": tid, "span_id": spid,
            "trace_state": span.get("traceState") if isinstance(span.get("traceState"), str) else "",
            "parent_span_id": span.get("parentSpanId") if isinstance(span.get("parentSpanId"), str) else "",
            "name": span.get("name") if isinstance(span.get("name"), str) else "",
            "kind": int(span["kind"]) if _num(span.get("kind")) else 0,
            "start_time_unix_nano": t("startTimeUnixNano"),
            "end_time_unix_nano": t("endTimeUnixNano"),
            "attributes": _marshal(span.get("attributes")),
            "events": _marshal(span.get("events")),
            "links": _marshal(span.get("links")),
            "status_code": int(status["code"]) if _num(status.get("code")) else 0,
            "status_message": status.get("message") if isinstance(status.get("message"), str) else "",
            "resource_id": rid, "scope_id": sid,
        }

    def _trace_turn(self, tx: dict, data: dict) -> None:
        rss = data.get("resourceSpans")
        if not isinstance(rss, list):
            raise _Abort("missing resourceSpans")
        for rs in rss:
            if not isinstance(rs, dict):
                continue
            resource = rs.get("resource")
            if not isinstance(resource, dict):
                continue
            rid = self._resource(tx, resource)
            sss = rs.get("scopeSpans")
            if not isinstance(sss, list):
                continue
            for ss in sss:
                if not isinstance(ss, dict):
                    continue
                scope = ss.get("scope")
                if not isinstance(scope, dict):
                    scope = {"name": "", "version": "", "attributes": [], "schemaUrl": ""}
                sid = self._scope(tx, scope)
                spans = ss.get("spans")
                if not isinstance(spans, list):
                    continue
                for s in spans:
                    if isinstance(s, dict):
                        self._insert_span(tx, s, rid, sid)

    def _log_turn(self, tx: dict, data: dict) -> None:
        rls = data.get("resourceLogs")
        if not isinstance(rls, list):
            raise _Abort("missing resourceLogs")
        for rl in rls:
            if not isinstance(rl, dict):
                raise _Abort("bad resourceLog")
            rid = 0
            resource = rl.get("resource")
            if isinstance(resource, dict):
                rid = self._resource(tx, resource)
            sls = rl.get("scopeLogs")
            if not isinstance(sls, list):
                raise _Abort("bad scopeLogs")
            for sl in sls:
                if not isinstance(sl, dict):
                    raise _Abort("bad scopeLog")
                scope = sl.get("scope")
                if not isinstance(scope, dict):
                    scope = {"name": "", "version": "", "attributes": [], "schemaUrl": ""}
                sid = self._scope(tx, scope)
                lrs = sl.get("logRecords")
                if not isinstance(lrs, list):
                    raise _Abort("bad logRecords")
                for lr in lrs:
                    if not isinstance(lr, dict):
                        raise _Abort("bad logRecord")
                    self._insert_log(tx, lr, rid, sid)

    def _insert_log(self, tx: dict, lr: dict, rid: int, sid: int) -> None:
        def strict(key):
            v = lr.get(key)
            if v is None:
                return ""
            if isinstance(v, str):
                return v
            raise _Abort(f"{key} not a string")

        def t(key):
            v = lr.get(key)
            return _time_nano(v) if isinstance(v, str) and v != "" else 0

        body = lr.get("body")
        attrs = lr.get("attributes")
        tx["log_records"].append({
            "time_unix_nano": t("timeUnixNano"),
            "observed_time_unix_nano": t("observedTimeUnixNano"),
            "severity_number": int(lr["severityNumber"]) if _num(lr.get("severityNumber")) else 0,
            "severity_text": strict("severityText"),
            "body": _marshal(body) if body is not None else "{}",
            "attributes": _marshal(attrs) if attrs is not None else "[]",
            "trace_id": strict("traceId"),
            "span_id": strict("spanId"),
            "flags": int(lr["flags"]) if _num(lr.get("flags")) else 0,
            "resource_id": rid, "scope_id": sid,
        })

    def _metric_turn(self, tx: dict, data: dict) -> None:
        rms = data.get("resourceMetrics")
        if not isinstance(rms, list):
            raise _Abort("missing resourceMetrics")
        for rm in rms:
            if not isinstance(rm, dict):
                continue
            resource = rm.get("resource")
            if not isinstance(resource, dict):
                raise _Abort("resource required in resourceMetric")
            rid = self._resource(tx, resource)
            sms = rm.get("scopeMetrics")
            if not isinstance(sms, list):
                continue
            for sm in sms:
                if not isinstance(sm, dict):
                    continue
                scope = sm.get("scope")
                if not isinstance(scope, dict):
                    scope = {"name": "", "version": "", "attributes": [], "schemaUrl": ""}
                sid = self._scope(tx, scope)
                metrics = sm.get("metrics")
                if not isinstance(metrics, list):
                    continue
                for m in metrics:
                    if isinstance(m, dict):
                        self._insert_metric(tx, m, rid, sid)

    def _insert_metric(self, tx: dict, m: dict, rid: int, sid: int) -> None:
        name = m.get("name")
        if not isinstance(name, str) or name == "":
            raise _Abort("metric name required")
        mtype = next((t for t in ("gauge", "sum", "histogram",
                                  "exponentialHistogram", "summary") if t in m), None)
        if mtype is None:
            raise _Abort(f"unknown metric type: {name}")
        desc = m.get("description") if isinstance(m.get("description"), str) else ""
        unit = m.get("unit") if isinstance(m.get("unit"), str) else ""
        mid = self._metric(tx, name, desc, unit, mtype, rid, sid)
        data = m.get(mtype)
        if isinstance(data, dict):
            dps = data.get("dataPoints")
            if isinstance(dps, list):
                for dp in dps:
                    if isinstance(dp, dict):
                        self._insert_point(tx, dp, mid, mtype, name, rid, sid)

    def _insert_point(self, tx, dp, mid, mtype, name, rid, sid) -> None:
        attrs = dp.get("attributes")
        attrs_json = _marshal(attrs)
        vd = vi = None
        if _num(dp.get("asDouble")):
            vd = float(dp["asDouble"])
        elif isinstance(dp.get("asInt"), str):
            s = dp["asInt"]
            body = s[1:] if s[:1] in "+-" else s
            if not (body.isascii() and body.isdigit() and body):
                raise _Abort(f"bad asInt {s!r}")
            vi = int(s)
            if not -(2**63) <= vi < 2**63:
                raise _Abort("asInt out of range")

        cx: dict[str, Any] = {}
        if mtype == "histogram":
            for k, ok in (("count", isinstance(dp.get("count"), str)),
                          ("sum", _num(dp.get("sum"))),
                          ("bucketCounts", isinstance(dp.get("bucketCounts"), list)),
                          ("explicitBounds", isinstance(dp.get("explicitBounds"), list))):
                if ok:
                    cx[k] = float(dp[k]) if k == "sum" else dp[k]
        elif mtype == "exponentialHistogram":
            for k, ok in (("count", isinstance(dp.get("count"), str)),
                          ("sum", _num(dp.get("sum"))),
                          ("scale", _num(dp.get("scale"))),
                          ("zeroCount", isinstance(dp.get("zeroCount"), str)),
                          ("positive", isinstance(dp.get("positive"), dict)),
                          ("negative", isinstance(dp.get("negative"), dict))):
                if ok:
                    cx[k] = float(dp[k]) if k in ("sum", "scale") else dp[k]
        elif mtype == "summary":
            for k, ok in (("count", isinstance(dp.get("count"), str)),
                          ("sum", _num(dp.get("sum"))),
                          ("quantileValues", isinstance(dp.get("quantileValues"), list))):
                if ok:
                    cx[k] = float(dp[k]) if k == "sum" else dp[k]
        if cx:
            base = attrs if attrs is not None else {}
            if isinstance(base, dict):
                merged = dict(base)
                merged["_metricData"] = cx
                attrs_json = _marshal(merged)

        def t(key):
            v = dp.get(key)
            return _time_nano(v) if isinstance(v, str) and v != "" else 0

        tx["points"].append({
            "metric_id": mid, "metric_name": name, "metric_type": mtype,
            "attributes": attrs_json,
            "start_time_unix_nano": t("startTimeUnixNano"),
            "time_unix_nano": t("timeUnixNano"),
            "value_double": vd, "value_int": vi,
            "exemplars": _marshal(dp.get("exemplars")),
            "flags": int(dp["flags"]) if _num(dp.get("flags")) else 0,
            "resource_id": rid, "scope_id": sid,
        })

    # --- turn processing (one HTTP request ≙ one transaction) ------------

    def process_turn(self, conv_id: str, turn_idx: int, text: str | None,
                     tool: str = "", ts=None) -> None:
        meta = {"conv_id": conv_id, "turn_idx": turn_idx, "tool": tool, "ts": ts,
                "n_bytes": len(text.encode("utf-8", "surrogatepass")) if text else 0}
        if text is None or text.strip() == "":
            self.rejects.append({**meta, "signal_type": None, "reason": "empty_body"})
            return
        if meta["n_bytes"] > self.max_text_bytes:
            self.rejects.append({**meta, "signal_type": None, "reason": "oversize"})
            return
        if not text.lstrip().startswith("{"):
            self.rejects.append({**meta, "signal_type": None, "reason": "not_json_object"})
            return
        try:
            data, _ = json.JSONDecoder(parse_int=float, parse_float=float).raw_decode(text.lstrip())
        except Exception:
            self.rejects.append({**meta, "signal_type": None, "reason": "invalid_json"})
            return
        if "resourceSpans" in data:
            signal, fn = "trace", self._trace_turn
        elif "resourceLogs" in data:
            signal, fn = "log", self._log_turn
        elif "resourceMetrics" in data:
            signal, fn = "metric", self._metric_turn
        else:
            self.rejects.append({**meta, "signal_type": None, "reason": "unknown_signal"})
            return

        # Transaction: stage new rows in overlay tables, commit on success
        # (database/*.go:11-15 tx.Begin / deferred Rollback / Commit).
        # Dim overlays are copies of the (small) dimension dicts; the spans
        # overlay holds only this turn's inserts, with the PK check probing
        # both the committed table and the overlay.
        saved_next = dict(self._next)
        tx = {"resources": dict(self.resources), "scopes": dict(self.scopes),
              "metrics": dict(self.metrics), "spans": {},
              "log_records": [], "points": []}
        try:
            fn(tx, data)
        except _Abort as e:
            self._next = saved_next
            self.rejects.append({**meta, "signal_type": signal, "reason": str(e)})
            return
        self.resources, self.scopes = tx["resources"], tx["scopes"]
        self.metrics = tx["metrics"]
        for k, row in tx["spans"].items():
            self.spans[k] = {**row, "conv_id": conv_id, "turn_idx": turn_idx}
        self.log_records.extend(
            {**r, "conv_id": conv_id, "turn_idx": turn_idx} for r in tx["log_records"])
        self.points.extend(
            {**r, "conv_id": conv_id, "turn_idx": turn_idx} for r in tx["points"])
        self.accepted.append({**meta, "signal_type": signal})

    def run(self, rows: list[dict]) -> "OracleDB":
        """Process rows in canonical arrival order (conv_id nulls first, turn_idx)."""
        for r in sorted(rows, key=lambda r: (r["conv_id"] is not None,
                                             r["conv_id"] or "", r["turn_idx"])):
            self.process_turn(r["conv_id"], r["turn_idx"], r.get("text"),
                              r.get("tool", ""), r.get("ts"))
        return self

    # --- comparison views (natural keys only, never surrogate ids) -------

    def sink_counts(self) -> dict[str, int]:
        return {
            "resources": len(self.resources),
            "instrumentation_scopes": len(self.scopes),
            "metrics": len(self.metrics),
            "spans": len(self.spans),
            "log_records": len(self.log_records),
            "metric_data_points": len(self.points),
            "rejects": len(self.rejects),
        }

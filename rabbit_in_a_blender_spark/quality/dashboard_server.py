"""Live data-quality dashboard server (SURVEY §2.K; reference
data_quality_dashboard.py:21-545).

The reference serves a Dash app over the stored DQD runs: a run
dropdown (:369-377), the Kahn context x category pass/fail grid
(:382-545), and a sortable results table whose cells reveal the
per-check query (:358-366).  This module reproduces that surface with
ZERO extra dependencies:

- **stdlib ``http.server``** (threading) instead of Dash/Flask — the
  container has no dash; a viewer must not drag a web framework into an
  engine library anyway;
- **pyarrow reads, no SparkSession**: the engine *writes*
  ``dqd/dqdashboard_results`` + ``dqd/dqdashboard_runs`` (appended per
  run — quality/dqd.py::persist_run); the viewer only *reads* those
  parquet dirs.  Serving results must not hold a 1000-executor cluster
  session hostage;
- server-side JSON endpoints + a small vanilla-JS page (all dynamic
  text rendered via ``textContent`` — XSS-safe against stored check
  names, same property the static HTML export tests pin).

Endpoints:
  GET /                →  dashboard page
  GET /api/runs        →  run history, newest first
  GET /api/overview?run=ID            → Kahn grid (reference run_selected)
  GET /api/results?run=ID&category=&context=&status=&table=&family=
                       →  filtered rows, reference sort (failures first,
                          pct_violated desc)
  GET /api/check?run=ID&name=NAME     → one check's full detail (the
                          show_query analog; this engine has no per-check
                          SQL string — checks are Catalyst expressions —
                          so the detail row documents the check instead)
"""

from __future__ import annotations

import json
import os
import threading
from datetime import date, datetime
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any
from urllib.parse import parse_qs, urlparse

from ..core.commit import is_pointer_table, resolve_pointer
from .dashboard import FAMILY_KAHN

CATEGORIES = ("Plausibility", "Conformance", "Completeness")
CONTEXTS = ("Verification", "Validation")


def _load_rows(root: str, table: str) -> list[dict[str, Any]]:
    """Read a warehouse dqd table without Spark: the live version of a
    pointer table (the retained versions beside it are history), or a
    legacy plain parquet dir."""
    import pyarrow.parquet as pq

    path = os.path.join(root, "dqd", table)
    if not os.path.isdir(path):
        return []
    if is_pointer_table(path):
        path = resolve_pointer(path)
    return pq.read_table(path).to_pylist()


def list_runs(root: str) -> list[dict[str, Any]]:
    """Run history, newest first (reference _get_last_runs)."""
    runs = _load_rows(root, "dqdashboard_runs")
    runs.sort(key=lambda r: (r.get("run_ts") or datetime.min), reverse=True)
    return [
        {
            "run_id": r["run_id"],
            "run_ts": r["run_ts"].isoformat() if r.get("run_ts") else None,
        }
        for r in runs
    ]


def _annotate(row: dict[str, Any]) -> dict[str, Any]:
    level, cat, sub, ctx = FAMILY_KAHN.get(
        row.get("check_family") or "", ("FIELD", "Conformance", "", "Verification")
    )
    out = dict(row)
    out["check_level"] = level
    out["category"] = cat
    out["subcategory"] = sub
    out["context"] = ctx
    out["status"] = "FAILED" if row.get("failed") == 1 else "PASS"
    return out


def get_results(
    root: str,
    run_id: str | None = None,
    category: str | None = None,
    context: str | None = None,
    status: str | None = None,
    table: str | None = None,
    family: str | None = None,
) -> list[dict[str, Any]]:
    """One run's annotated rows, server-side filtered, reference sort
    (status asc puts FAILED first, then pct_violated_rows desc —
    data_quality_dashboard.py:382-393)."""
    rows = _load_rows(root, "dqdashboard_results")
    if run_id is None:
        runs = list_runs(root)
        run_id = runs[0]["run_id"] if runs else None
    if run_id is not None and any("run_id" in r for r in rows[:1]):
        rows = [r for r in rows if r.get("run_id") == run_id]
    out = [_annotate(r) for r in rows]
    if category:
        out = [r for r in out if r["category"] == category]
    if context:
        out = [r for r in out if r["context"] == context]
    if status:
        out = [r for r in out if r["status"] == status]
    if table:
        out = [r for r in out if (r.get("cdm_table") or "") == table]
    if family:
        out = [r for r in out if (r.get("check_family") or "") == family]
    out.sort(
        key=lambda r: (r["status"], -(r.get("pct_violated_rows") or 0.0))
    )
    return out


def _cell(rows: list[dict[str, Any]]) -> dict[str, Any]:
    total = len(rows)
    fail = len([r for r in rows if r["status"] == "FAILED"])
    ok = total - fail
    return {
        "pass": ok,
        "fail": fail,
        "total": total,
        "percent_pass": f"{round(ok / total * 100)}%" if total else "-",
    }


def kahn_grid(rows: list[dict[str, Any]]) -> dict[str, dict[str, Any]]:
    """The reference's 3x4 overview grid (run_selected,
    data_quality_dashboard.py:395-545): context x category cells plus
    per-context, per-category and grand totals."""
    grid: dict[str, dict[str, Any]] = {}
    for ctx in CONTEXTS:
        in_ctx = [r for r in rows if r["context"] == ctx]
        grid[ctx.lower()] = {
            cat.lower(): _cell([r for r in in_ctx if r["category"] == cat])
            for cat in CATEGORIES
        }
        grid[ctx.lower()]["all"] = _cell(in_ctx)
    grid["total"] = {
        cat.lower(): _cell([r for r in rows if r["category"] == cat])
        for cat in CATEGORIES
    }
    grid["total"]["all"] = _cell(rows)
    return grid


def _json_default(o: Any) -> Any:
    if isinstance(o, (datetime, date)):
        return o.isoformat()
    raise TypeError(f"not JSON serializable: {type(o)}")


class _Handler(BaseHTTPRequestHandler):
    # set by make_server
    warehouse_root = ""

    def log_message(self, fmt: str, *args: Any) -> None:  # quiet by default
        pass

    def _send(self, code: int, body: bytes, ctype: str) -> None:
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.send_header("X-Content-Type-Options", "nosniff")
        self.end_headers()
        self.wfile.write(body)

    def _json(self, payload: Any, code: int = 200) -> None:
        body = json.dumps(payload, default=_json_default).encode()
        self._send(code, body, "application/json; charset=utf-8")

    def do_GET(self) -> None:  # noqa: N802 (stdlib handler contract)
        try:
            url = urlparse(self.path)
            q = {k: v[0] for k, v in parse_qs(url.query).items()}
            root = self.warehouse_root
            if url.path == "/":
                self._send(200, INDEX_HTML.encode(), "text/html; charset=utf-8")
            elif url.path == "/api/runs":
                self._json(list_runs(root))
            elif url.path == "/api/overview":
                rows = get_results(root, run_id=q.get("run"))
                self._json({"run_id": q.get("run"), "grid": kahn_grid(rows)})
            elif url.path == "/api/results":
                self._json(
                    get_results(
                        root,
                        run_id=q.get("run"),
                        category=q.get("category"),
                        context=q.get("context"),
                        status=q.get("status"),
                        table=q.get("table"),
                        family=q.get("family"),
                    )
                )
            elif url.path == "/api/check":
                rows = get_results(root, run_id=q.get("run"))
                match = [r for r in rows if r["check_name"] == q.get("name")]
                if not match:
                    self._json({"error": "unknown check"}, code=404)
                else:
                    self._json(match[0])
            else:
                self._json({"error": "not found"}, code=404)
        except BrokenPipeError:
            pass
        except Exception as exc:  # surface handler bugs as a 500 payload
            try:
                self._json({"error": str(exc)}, code=500)
            except Exception:
                pass


def make_server(
    warehouse_root: str, host: str = "127.0.0.1", port: int = 8050
) -> ThreadingHTTPServer:
    """Build (but do not start) the dashboard server; tests bind port 0
    and read the assigned port from ``server.server_address``."""
    handler = type("BoundHandler", (_Handler,), {"warehouse_root": warehouse_root})
    return ThreadingHTTPServer((host, port), handler)


def serve(warehouse_root: str, host: str = "127.0.0.1", port: int = 8050) -> None:
    """Blocking CLI entry (reference DataQualityDashboard.run :36-45)."""
    server = make_server(warehouse_root, host, port)
    print(f"DQD dashboard: http://{host}:{server.server_address[1]}/")
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        server.shutdown()


def start_background(
    warehouse_root: str, host: str = "127.0.0.1", port: int = 0
) -> tuple[ThreadingHTTPServer, threading.Thread]:
    """Start the server on a daemon thread; returns (server, thread)."""
    server = make_server(warehouse_root, host, port)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server, t


# The page: one fetch-driven table set.  All dynamic values land in the
# DOM via textContent — stored check names can never execute as markup.
INDEX_HTML = """<!DOCTYPE html>
<html lang="en"><head><meta charset="utf-8">
<title>Data Quality Dashboard</title>
<style>
 body{font-family:sans-serif;margin:1.5rem;color:#222}
 h2{color:navy} table{border-collapse:collapse;margin:1rem 0}
 th,td{border:1px solid #bbb;padding:.3rem .6rem;text-align:right}
 th{background:#eef} td.name,th.name{text-align:left}
 tr.FAILED td{background:#fdecec} .fail{color:#b00020;font-weight:bold}
 select{margin-right:.8rem} #detail{white-space:pre;background:#f6f6f6;
 padding:.6rem;border:1px solid #ccc;display:none}
</style></head><body>
<h2>Data Quality Dashboard</h2>
<label>Run: <select id="run"></select></label>
<label>Category: <select id="category"><option value="">all</option>
<option>Plausibility</option><option>Conformance</option>
<option>Completeness</option></select></label>
<label>Context: <select id="context"><option value="">all</option>
<option>Verification</option><option>Validation</option></select></label>
<label>Status: <select id="status"><option value="">all</option>
<option>FAILED</option><option>PASS</option></select></label>
<table id="grid"></table>
<div id="detail"></div>
<table id="results"></table>
<script>
const $=id=>document.getElementById(id);
const cellKeys=["plausibility","conformance","completeness","all"];
function td(tr,text,cls){const c=document.createElement("td");
 c.textContent=text;if(cls)c.className=cls;tr.appendChild(c);return c;}
function th(tr,text,attrs){const c=document.createElement("th");
 c.textContent=text;Object.assign(c,attrs||{});tr.appendChild(c);}
async function j(u){const r=await fetch(u);return r.json();}
function runParam(){const r=$("run").value;return r?`run=${encodeURIComponent(r)}`:"";}
async function loadGrid(){
 const o=await j(`/api/overview?${runParam()}`);const g=o.grid;
 const t=$("grid");t.innerHTML="";
 let tr=document.createElement("tr");th(tr,"");
 ["Verification","Validation","Total"].forEach(x=>th(tr,x,{colSpan:4}));
 t.appendChild(tr);
 tr=document.createElement("tr");th(tr,"");
 for(let i=0;i<3;i++)["Pass","Fail","Total","% Pass"].forEach(x=>th(tr,x));
 t.appendChild(tr);
 ["plausibility","conformance","completeness","all"].forEach(cat=>{
  const row=document.createElement("tr");
  th(row,cat==="all"?"Total":cat[0].toUpperCase()+cat.slice(1));
  ["verification","validation","total"].forEach(ctx=>{
   const c=g[ctx][cat];td(row,c.pass);td(row,c.fail,c.fail?"fail":"");
   td(row,c.total);td(row,c.percent_pass);});
  t.appendChild(row);});
}
async function loadResults(){
 const p=new URLSearchParams();const r=$("run").value;if(r)p.set("run",r);
 for(const k of["category","context","status"]){const v=$(k).value;if(v)p.set(k,v);}
 const rows=await j(`/api/results?${p}`);const t=$("results");t.innerHTML="";
 const h=document.createElement("tr");
 ["check","family","table","field","violated","% violated","denominator",
  "threshold","status"].forEach((x,i)=>th(h,x,i<4?{className:"name"}:{}));
 t.appendChild(h);
 rows.forEach(row=>{
  const tr=document.createElement("tr");tr.className=row.status;
  td(tr,row.check_name,"name").onclick=()=>showDetail(row.check_name);
  td(tr,row.check_family,"name");td(tr,row.cdm_table||"","name");
  td(tr,row.cdm_field||"","name");td(tr,row.num_violated_rows);
  td(tr,(100*(row.pct_violated_rows||0)).toFixed(2)+"%");
  td(tr,row.num_denominator_rows);td(tr,row.threshold);
  td(tr,row.status,row.status==="FAILED"?"fail":"");
  t.appendChild(tr);});
}
async function showDetail(name){
 const d=await j(`/api/check?${runParam()}&name=${encodeURIComponent(name)}`);
 const el=$("detail");el.style.display="block";
 el.textContent=JSON.stringify(d,null,2);
}
async function init(){
 const runs=await j("/api/runs");const sel=$("run");
 runs.forEach(r=>{const o=document.createElement("option");
  o.value=r.run_id;o.textContent=`${r.run_ts||""}  ${r.run_id}`;
  sel.appendChild(o);});
 const refresh=()=>{loadGrid();loadResults();};
 ["run","category","context","status"].forEach(id=>$(id).onchange=refresh);
 refresh();
}
init();
</script></body></html>
"""

"""Iceberg REST catalog: in-process server + client.

The reference loads tables through an iceberg-rs ``Catalog``
(``Catalog::load_table(&TableIdent)``, core/src/compaction/mod.rs:44)
and commits transactions back through it (:66-72).  The spec-format
metadata layer (compaction/iceberg_meta.py) already covers the
Hadoop-catalog flavor (version-file O_EXCL commits); this module adds
the REST catalog protocol — the flavor hosted catalogs actually speak —
hand-implemented from the PUBLIC Iceberg REST OpenAPI spec, the same
approach as the compactor's HTTP transport (compaction/transport.py).

Implemented routes (the core table lifecycle):

    GET    /v1/config
    GET    /v1/namespaces                         list
    POST   /v1/namespaces                         create
    GET    /v1/namespaces/{ns}                    load namespace metadata
    DELETE /v1/namespaces/{ns}                    drop (409 if not empty)
    POST   /v1/namespaces/{ns}/properties         update/remove properties
    GET    /v1/namespaces/{ns}/tables             list
    POST   /v1/namespaces/{ns}/tables             create table
    GET    /v1/namespaces/{ns}/tables/{t}         load table
    DELETE /v1/namespaces/{ns}/tables/{t}         drop table
    POST   /v1/namespaces/{ns}/tables/{t}         commit table

``commitTable`` applies spec-named requirements (``assert-table-uuid``,
``assert-ref-snapshot-id``) and updates (``add-snapshot``,
``set-snapshot-ref``, ``set-properties``, ``remove-properties``)
against the stored metadata, re-using the O_EXCL version commit for
atomicity — a losing racer gets HTTP 409, exactly the REST spec's
CommitFailedException contract.

Tables are stored as spec-format ``IcebergTable``s under the server's
warehouse directory, so a client that receives ``metadata-location``
can hand the table straight to the MoR read path and the compaction
orchestrator.
"""

from __future__ import annotations

import json
import re
import threading
import time as _t
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any
from urllib.parse import unquote
from urllib.request import Request, urlopen

from ic_spark.compaction.iceberg_meta import IcebergTable
from ic_spark.compaction.manifest import CommitConflictError
from ic_spark.compaction.views import IcebergView


class RestError(Exception):
    def __init__(self, code: int, message: str):
        super().__init__(message)
        self.code = code


# ------------------------------------------------------------- backend


class CatalogBackend:
    """Warehouse-directory catalog state behind the REST routes.

    Namespaces and table registrations live in the directory structure
    itself (``warehouse/<ns>/<table>/metadata``) — no side database, so
    a crashed server loses nothing.
    """

    def __init__(self, warehouse: str):
        import os

        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    # -- namespaces ----------------------------------------------------

    def list_namespaces(self) -> list[list[str]]:
        import os

        return sorted(
            [n]
            for n in os.listdir(self.warehouse)
            if os.path.isdir(os.path.join(self.warehouse, n))
        )

    # Namespace properties live in a dot-file inside the namespace dir
    # (invisible to the table listing), keeping the no-side-database
    # design: the directory IS the catalog state.
    _NS_PROPS = ".namespace.json"

    @staticmethod
    def _safe_segment(name: str) -> bool:
        """One path segment of catalog state: dots are excluded (same
        rule as sql_catalog._SEGMENT_RE) — '.'/'..'/embedded dots plus
        os.path.join make names like '..' resolve OUTSIDE the
        namespace dir, and a purge drop would rmtree the warehouse
        (r9 review find, confirmed by execution)."""
        import re

        return bool(name) and re.fullmatch(r"[A-Za-z0-9_-]+", name) is not None

    def create_namespace(
        self, namespace: list[str], properties: dict | None = None
    ) -> None:
        import os

        if len(namespace) != 1:
            raise RestError(400, "only single-level namespaces supported")
        if not self._safe_segment(namespace[0]):
            raise RestError(400, f"invalid namespace name: {namespace[0]!r}")
        path = os.path.join(self.warehouse, namespace[0])
        if os.path.isdir(path):
            raise RestError(409, f"namespace already exists: {namespace[0]}")
        os.makedirs(path)
        if properties:
            self._write_ns_props(path, dict(properties))

    def _ns_dir(self, ns: str) -> str:
        import os

        # Route captures are unquoted BEFORE this point, so an encoded
        # '%2e%2e' arrives as '..' — validate every lookup, not just
        # creation.
        if not self._safe_segment(ns):
            raise RestError(404, f"namespace not found: {ns}")
        path = os.path.join(self.warehouse, ns)
        if not os.path.isdir(path):
            raise RestError(404, f"namespace not found: {ns}")
        return path

    def _read_ns_props(self, ns_dir: str) -> dict:
        import os

        p = os.path.join(ns_dir, self._NS_PROPS)
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def _write_ns_props(self, ns_dir: str, props: dict) -> None:
        import os

        with open(os.path.join(ns_dir, self._NS_PROPS), "w") as f:
            json.dump(props, f)

    def load_namespace(self, ns: str) -> dict:
        return {
            "namespace": [ns],
            "properties": self._read_ns_props(self._ns_dir(ns)),
        }

    def update_namespace_properties(
        self, ns: str, updates: dict, removals: list[str]
    ) -> dict:
        overlap = set(updates) & set(removals)
        if overlap:
            raise RestError(
                400, f"keys in both updates and removals: {sorted(overlap)}"
            )
        ns_dir = self._ns_dir(ns)
        props = self._read_ns_props(ns_dir)
        removed = [k for k in removals if props.pop(k, None) is not None]
        missing = [k for k in removals if k not in removed]
        props.update(updates)
        self._write_ns_props(ns_dir, props)
        return {
            "updated": sorted(updates),
            "removed": removed,
            "missing": missing,
        }

    def drop_namespace(self, ns: str) -> None:
        import shutil

        ns_dir = self._ns_dir(ns)
        # REGISTERED tables/views are what make a namespace non-empty
        # (the JDBC/REST contract — registration, not disk layout);
        # data retained by a non-purge table drop is unregistered and
        # goes with the namespace directory.
        if self.list_tables(ns) or self.list_views(ns):
            raise RestError(409, f"namespace not empty: {ns}")
        shutil.rmtree(ns_dir)

    # -- tables --------------------------------------------------------

    def list_tables(self, ns: str) -> list[dict]:
        import os

        ns_dir = self._ns_dir(ns)
        out = []
        for name in sorted(os.listdir(ns_dir)):
            tbl = IcebergTable(os.path.join(ns_dir, name))
            if tbl.version() is None:
                continue
            try:
                if "table-uuid" in tbl.metadata():  # views share the layout
                    out.append({"namespace": [ns], "name": name})
            except ValueError:
                continue
        return out

    def _table(self, ns: str, name: str) -> IcebergTable:
        import os

        if not self._safe_segment(name):
            raise RestError(404, f"table not found: {ns}.{name}")
        loc = os.path.join(self._ns_dir(ns), name)
        tbl = IcebergTable(loc)
        if tbl.version() is None or "table-uuid" not in tbl.metadata():
            raise RestError(404, f"table not found: {ns}.{name}")
        return tbl

    def load_table(self, ns: str, name: str) -> dict:
        import os

        tbl = self._table(ns, name)
        v = tbl.version()
        return {
            "metadata-location": os.path.join(
                tbl.metadata_dir, f"v{v}.metadata.json"
            ),
            "metadata": tbl.metadata(),
        }

    def create_table(self, ns: str, payload: dict) -> dict:
        import os

        from ic_spark.compaction.table_model import iceberg_to_spark_schema

        name = payload.get("name")
        if not self._safe_segment(name):
            raise RestError(400, f"bad table name: {name!r}")
        loc = os.path.join(self._ns_dir(ns), name)
        if IcebergTable(loc).version() is not None:
            raise RestError(409, f"table already exists: {ns}.{name}")
        schema = iceberg_to_spark_schema(payload["schema"])
        IcebergTable.create(
            loc,
            schema,
            partition_by=payload.get("partition-by"),
            properties=payload.get("properties"),
        )
        return self.load_table(ns, name)

    def drop_table(self, ns: str, name: str, purge: bool) -> None:
        import os
        import shutil

        tbl = self._table(ns, name)
        if purge:
            shutil.rmtree(tbl.root)
        else:
            # unregister but keep data: move metadata aside so the
            # location stops resolving as a table.  Unique destination:
            # a second create+drop cycle of the same name hit ENOTEMPTY
            # against the previous ".dropped" dir and 500'd forever
            # (r9 review find).
            import time as _time

            os.replace(
                tbl.metadata_dir,
                f"{tbl.metadata_dir}.dropped-{int(_time.time() * 1000)}",
            )

    def rename_table(self, payload: dict) -> None:
        import os

        src, dst = payload.get("source") or {}, payload.get("destination") or {}
        src_tbl = self._table(src["namespace"][0], src["name"])
        dst_ns = self._ns_dir(dst["namespace"][0])
        if not self._safe_segment(dst.get("name", "")):
            raise RestError(400, f"bad table name: {dst.get('name')!r}")
        dst_loc = os.path.join(dst_ns, dst["name"])
        if IcebergTable(dst_loc).version() is not None:
            raise RestError(409, f"table already exists: {dst['name']}")
        os.replace(src_tbl.root, dst_loc)

    # -- views ----------------------------------------------------------

    def list_views(self, ns: str) -> list[dict]:
        import os

        ns_dir = self._ns_dir(ns)
        out = []
        for name in sorted(os.listdir(ns_dir)):
            meta_dir = os.path.join(ns_dir, name, "metadata")
            if not os.path.isdir(meta_dir):
                continue
            v = IcebergView(os.path.join(ns_dir, name)).version()
            if v is None:
                continue
            try:
                meta = IcebergView(os.path.join(ns_dir, name)).metadata()
            except ValueError:
                continue
            if "view-uuid" in meta:
                out.append({"namespace": [ns], "name": name})
        return out

    def _view(self, ns: str, name: str) -> "IcebergView":
        import os

        if not self._safe_segment(name):
            raise RestError(404, f"view not found: {ns}.{name}")
        loc = os.path.join(self._ns_dir(ns), name)
        view = IcebergView(loc)
        if view.version() is None or "view-uuid" not in view.metadata():
            raise RestError(404, f"view not found: {ns}.{name}")
        return view

    def create_view(self, ns: str, payload: dict) -> dict:
        import os

        name = payload.get("name")
        if not self._safe_segment(name):
            raise RestError(400, f"bad view name: {name!r}")
        loc = os.path.join(self._ns_dir(ns), name)
        if IcebergView(loc).version() is not None:
            raise RestError(409, f"view already exists: {ns}.{name}")
        IcebergView.create(
            loc,
            payload["sql"],
            dialect=payload.get("dialect", "spark"),
            properties=payload.get("properties"),
        )
        return self.load_view(ns, name)

    def load_view(self, ns: str, name: str) -> dict:
        import os

        view = self._view(ns, name)
        return {
            "metadata-location": os.path.join(
                view.metadata_dir, f"v{view.version()}.metadata.json"
            ),
            "metadata": view.metadata(),
        }

    def replace_view(self, ns: str, name: str, payload: dict) -> dict:
        view = self._view(ns, name)
        try:
            view.replace(payload["sql"], dialect=payload.get("dialect", "spark"))
        except CommitConflictError as exc:
            raise RestError(409, str(exc)) from exc
        return self.load_view(ns, name)

    def drop_view(self, ns: str, name: str) -> None:
        import shutil

        view = self._view(ns, name)
        shutil.rmtree(view.root)

    # -- commit --------------------------------------------------------

    def commit_table(self, ns: str, name: str, payload: dict) -> dict:
        tbl = self._table(ns, name)
        # VERSION FIRST, metadata second: the reverse order let a commit
        # landing between the two reads pair a fresh version with stale
        # metadata — the CAS then passed and the concurrent commit's
        # snapshots/properties were silently erased (r9 review find).
        # Reading the version first makes any such race FAIL the CAS.
        version = tbl.version()
        meta = tbl.metadata(version)

        for req in payload.get("requirements", []):
            rtype = req.get("type")
            if rtype == "assert-table-uuid":
                if meta.get("table-uuid") != req.get("uuid"):
                    raise RestError(409, "requirement failed: table-uuid changed")
            elif rtype == "assert-ref-snapshot-id":
                ref = req.get("ref", "main")
                want = req.get("snapshot-id")
                have = (
                    meta.get("refs", {}).get(ref, {}).get("snapshot-id")
                    if ref != "main" or "main" in meta.get("refs", {})
                    else (
                        meta.get("current-snapshot-id")
                        if meta.get("current-snapshot-id", -1) != -1
                        else None
                    )
                )
                if have != want:
                    raise RestError(
                        409,
                        f"requirement failed: ref {ref} at {have}, expected {want}",
                    )
            else:
                raise RestError(400, f"unsupported requirement: {rtype}")

        for upd in payload.get("updates", []):
            utype = upd.get("type")
            if utype == "add-snapshot":
                snap = upd["snapshot"]
                meta.setdefault("snapshots", []).append(snap)
                # Keep the metadata invariants every internal commit
                # path maintains: TIMESTAMP AS OF plans exclusively
                # from snapshot-log, and sequence numbers must be
                # monotone (r9 review find — REST-committed snapshots
                # were invisible to time travel).
                now = snap.get("timestamp-ms") or int(_t.time() * 1000)
                meta["last-updated-ms"] = now
                seq = snap.get("sequence-number")
                if seq is not None:
                    meta["last-sequence-number"] = max(
                        meta.get("last-sequence-number", 0), seq
                    )
            elif utype == "set-snapshot-ref":
                ref = upd.get("ref-name", "main")
                sid = upd["snapshot-id"]
                if not any(
                    s["snapshot-id"] == sid for s in meta.get("snapshots", [])
                ):
                    raise RestError(400, f"unknown snapshot-id: {sid}")
                if ref == "main":
                    meta["current-snapshot-id"] = sid
                    snap = next(
                        x
                        for x in meta["snapshots"]
                        if x["snapshot-id"] == sid
                    )
                    meta.setdefault("snapshot-log", []).append(
                        {
                            "timestamp-ms": snap.get("timestamp-ms")
                            or int(_t.time() * 1000),
                            "snapshot-id": sid,
                        }
                    )
                meta.setdefault("refs", {})[ref] = {
                    "snapshot-id": sid,
                    "type": upd.get("snapshot-ref-type", upd.get("type-", "branch")),
                }
            elif utype == "set-statistics":
                # Iceberg REST: register a statistics file (one entry
                # per snapshot; replaces an existing entry for it).
                st = upd["statistics"]
                keep = [
                    s
                    for s in meta.get("statistics", [])
                    if s.get("snapshot-id") != st.get("snapshot-id")
                ]
                meta["statistics"] = keep + [st]
            elif utype == "remove-statistics":
                sid = upd["snapshot-id"]
                meta["statistics"] = [
                    s
                    for s in meta.get("statistics", [])
                    if s.get("snapshot-id") != sid
                ]
            elif utype == "set-properties":
                meta.setdefault("properties", {}).update(upd.get("updates", {}))
            elif utype == "remove-properties":
                for k in upd.get("removals", []):
                    meta.get("properties", {}).pop(k, None)
            else:
                raise RestError(400, f"unsupported update: {utype}")

        try:
            tbl._commit_metadata(meta, expected_version=version)
        except CommitConflictError as exc:
            raise RestError(409, str(exc)) from exc
        return self.load_table(ns, name)


# -------------------------------------------------------------- server

_ROUTES = [
    ("GET", re.compile(r"^/v1/config$"), "config"),
    ("GET", re.compile(r"^/v1/namespaces$"), "list_ns"),
    ("POST", re.compile(r"^/v1/namespaces$"), "create_ns"),
    ("GET", re.compile(r"^/v1/namespaces/([^/]+)$"), "load_ns"),
    ("DELETE", re.compile(r"^/v1/namespaces/([^/]+)$"), "drop_ns"),
    ("POST", re.compile(r"^/v1/namespaces/([^/]+)/properties$"), "update_ns_props"),
    ("GET", re.compile(r"^/v1/namespaces/([^/]+)/tables$"), "list_tables"),
    ("POST", re.compile(r"^/v1/namespaces/([^/]+)/tables$"), "create_table"),
    ("POST", re.compile(r"^/v1/tables/rename$"), "rename"),
    ("GET", re.compile(r"^/v1/namespaces/([^/]+)/views$"), "list_views"),
    ("POST", re.compile(r"^/v1/namespaces/([^/]+)/views$"), "create_view"),
    ("GET", re.compile(r"^/v1/namespaces/([^/]+)/views/([^/]+)$"), "load_view"),
    ("POST", re.compile(r"^/v1/namespaces/([^/]+)/views/([^/]+)$"), "replace_view"),
    ("DELETE", re.compile(r"^/v1/namespaces/([^/]+)/views/([^/]+)$"), "drop_view"),
    ("GET", re.compile(r"^/v1/namespaces/([^/]+)/tables/([^/]+)$"), "load"),
    ("POST", re.compile(r"^/v1/namespaces/([^/]+)/tables/([^/]+)$"), "commit"),
    ("DELETE", re.compile(r"^/v1/namespaces/([^/]+)/tables/([^/]+)$"), "drop"),
]


class _Handler(BaseHTTPRequestHandler):
    backend: CatalogBackend

    def log_message(self, *args):  # quiet test output
        pass

    def _reply(self, code: int, obj: Any) -> None:
        body = json.dumps(obj).encode("utf-8")
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _error(self, code: int, message: str) -> None:
        # REST spec ErrorResponse envelope
        self._reply(
            code,
            {
                "error": {
                    "message": message,
                    "type": "CommitFailedException"
                    if code == 409
                    else "BadRequestException",
                    "code": code,
                }
            },
        )

    def _dispatch(self, method: str) -> None:
        path = self.path.split("?", 1)[0]
        query = self.path.split("?", 1)[1] if "?" in self.path else ""
        for m, rx, op in _ROUTES:
            if m != method:
                continue
            match = rx.match(path)
            if not match:
                continue
            args = [unquote(g) for g in match.groups()]
            length = int(self.headers.get("Content-Length", 0))
            body = json.loads(self.rfile.read(length) or b"{}") if length else {}
            b = self.backend
            try:
                if op == "config":
                    self._reply(200, {"defaults": {}, "overrides": {}})
                elif op == "list_ns":
                    self._reply(200, {"namespaces": b.list_namespaces()})
                elif op == "create_ns":
                    b.create_namespace(
                        body.get("namespace", []), body.get("properties")
                    )
                    self._reply(
                        200,
                        {
                            "namespace": body.get("namespace", []),
                            "properties": body.get("properties") or {},
                        },
                    )
                elif op == "load_ns":
                    self._reply(200, b.load_namespace(args[0]))
                elif op == "drop_ns":
                    b.drop_namespace(args[0])
                    self._reply(204, {})
                elif op == "update_ns_props":
                    self._reply(
                        200,
                        b.update_namespace_properties(
                            args[0],
                            body.get("updates") or {},
                            body.get("removals") or [],
                        ),
                    )
                elif op == "list_tables":
                    self._reply(200, {"identifiers": b.list_tables(args[0])})
                elif op == "create_table":
                    self._reply(200, b.create_table(args[0], body))
                elif op == "rename":
                    b.rename_table(body)
                    self._reply(204, {})
                elif op == "list_views":
                    self._reply(200, {"identifiers": b.list_views(args[0])})
                elif op == "create_view":
                    self._reply(200, b.create_view(args[0], body))
                elif op == "load_view":
                    self._reply(200, b.load_view(args[0], args[1]))
                elif op == "replace_view":
                    self._reply(200, b.replace_view(args[0], args[1], body))
                elif op == "drop_view":
                    b.drop_view(args[0], args[1])
                    self._reply(204, {})
                elif op == "load":
                    self._reply(200, b.load_table(args[0], args[1]))
                elif op == "commit":
                    self._reply(200, b.commit_table(args[0], args[1], body))
                elif op == "drop":
                    b.drop_table(args[0], args[1], "purgeRequested=true" in query)
                    self._reply(204, {})
            except RestError as exc:
                self._error(exc.code, str(exc))
            except Exception as exc:  # noqa: BLE001 — keep serving
                self._error(500, str(exc))
            return
        self._error(404, f"no route: {method} {path}")

    def do_GET(self) -> None:  # noqa: N802
        self._dispatch("GET")

    def do_POST(self) -> None:  # noqa: N802
        self._dispatch("POST")

    def do_DELETE(self) -> None:  # noqa: N802
        self._dispatch("DELETE")


class RestCatalogServer:
    """In-process REST catalog: ``start()`` → ``port``; ``stop()``."""

    def __init__(self, warehouse: str, host: str = "127.0.0.1", port: int = 0):
        handler = type(
            "BoundHandler", (_Handler,), {"backend": CatalogBackend(warehouse)}
        )
        self._httpd = ThreadingHTTPServer((host, port), handler)
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> "RestCatalogServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)


# -------------------------------------------------------------- client


class RestCatalog:
    """Client for any Iceberg REST catalog endpoint.

    ``load_table`` returns an :class:`IcebergTable` bound to the
    metadata location's table root, so scans/compaction run unchanged:

        cat = RestCatalog(f"http://127.0.0.1:{port}")
        tbl = cat.load_table("analytics", "events")
        Compaction(spark).full_compact(tbl)
    """

    def __init__(self, uri: str, file_io: dict | None = None):
        self.uri = uri.rstrip("/")
        # Routes loaded tables' METADATA plane through the pyarrow
        # fileio seam (compaction/metafs) — the Iceberg-REST deployment
        # shape where the catalog serves pointers and the client reads/
        # writes the object-store warehouse directly.
        self.file_io = file_io

    def _call(
        self, method: str, path: str, payload: dict | None = None
    ) -> dict:
        req = Request(
            f"{self.uri}{path}",
            data=json.dumps(payload).encode() if payload is not None else None,
            headers={"Content-Type": "application/json"},
            method=method,
        )
        try:
            with urlopen(req) as resp:
                raw = resp.read()
        except Exception as exc:
            body = getattr(exc, "read", lambda: b"")()
            try:
                message = json.loads(body)["error"]["message"]
            except Exception:  # noqa: BLE001
                raise exc from None
            raise RestError(getattr(exc, "code", 500), message) from None
        return json.loads(raw or b"{}")

    def config(self) -> dict:
        return self._call("GET", "/v1/config")

    def list_namespaces(self) -> list[list[str]]:
        return self._call("GET", "/v1/namespaces")["namespaces"]

    def create_namespace(
        self, namespace: str, properties: dict | None = None
    ) -> None:
        payload: dict = {"namespace": [namespace]}
        if properties:
            payload["properties"] = properties
        self._call("POST", "/v1/namespaces", payload)

    def namespace_properties(self, namespace: str) -> dict:
        return self._call("GET", f"/v1/namespaces/{namespace}")["properties"]

    def update_namespace_properties(
        self,
        namespace: str,
        updates: dict | None = None,
        removals: list[str] | None = None,
    ) -> dict:
        return self._call(
            "POST",
            f"/v1/namespaces/{namespace}/properties",
            {"updates": updates or {}, "removals": removals or []},
        )

    def drop_namespace(self, namespace: str) -> None:
        self._call("DELETE", f"/v1/namespaces/{namespace}")

    def list_tables(self, namespace: str) -> list[str]:
        ids = self._call("GET", f"/v1/namespaces/{namespace}/tables")[
            "identifiers"
        ]
        return [i["name"] for i in ids]

    def create_table(
        self,
        namespace: str,
        name: str,
        spark_schema,
        partition_by: list[str] | None = None,
        properties: dict | None = None,
    ) -> IcebergTable:
        from ic_spark.compaction.table_model import schema_to_iceberg

        payload = {
            "name": name,
            "schema": schema_to_iceberg(spark_schema),
        }
        if partition_by:
            payload["partition-by"] = partition_by
        if properties:
            payload["properties"] = properties
        out = self._call("POST", f"/v1/namespaces/{namespace}/tables", payload)
        return self._table_from_location(out["metadata-location"])

    def load_table(self, namespace: str, name: str) -> IcebergTable:
        out = self._call("GET", f"/v1/namespaces/{namespace}/tables/{name}")
        return self._table_from_location(out["metadata-location"])

    def load_metadata(self, namespace: str, name: str) -> dict:
        return self._call("GET", f"/v1/namespaces/{namespace}/tables/{name}")[
            "metadata"
        ]

    def rename_table(
        self, namespace: str, name: str, to_namespace: str, to_name: str
    ) -> None:
        self._call(
            "POST",
            "/v1/tables/rename",
            {
                "source": {"namespace": [namespace], "name": name},
                "destination": {"namespace": [to_namespace], "name": to_name},
            },
        )

    def drop_table(self, namespace: str, name: str, purge: bool = False) -> None:
        suffix = "?purgeRequested=true" if purge else ""
        self._call(
            "DELETE", f"/v1/namespaces/{namespace}/tables/{name}{suffix}"
        )

    def create_view(
        self,
        namespace: str,
        name: str,
        sql: str,
        dialect: str = "spark",
        properties: dict | None = None,
    ) -> IcebergView:
        payload = {"name": name, "sql": sql, "dialect": dialect}
        if properties:
            payload["properties"] = properties
        out = self._call("POST", f"/v1/namespaces/{namespace}/views", payload)
        return self._view_from_location(out["metadata-location"])

    def load_view(self, namespace: str, name: str) -> IcebergView:
        out = self._call("GET", f"/v1/namespaces/{namespace}/views/{name}")
        return self._view_from_location(out["metadata-location"])

    def list_views(self, namespace: str) -> list[str]:
        ids = self._call("GET", f"/v1/namespaces/{namespace}/views")["identifiers"]
        return [i["name"] for i in ids]

    def replace_view(
        self, namespace: str, name: str, sql: str, dialect: str = "spark"
    ) -> dict:
        return self._call(
            "POST",
            f"/v1/namespaces/{namespace}/views/{name}",
            {"sql": sql, "dialect": dialect},
        )

    def drop_view(self, namespace: str, name: str) -> None:
        self._call("DELETE", f"/v1/namespaces/{namespace}/views/{name}")

    @staticmethod
    def _view_from_location(metadata_location: str) -> IcebergView:
        import os

        root = os.path.dirname(os.path.dirname(metadata_location))
        return IcebergView(root)

    def commit_table(
        self,
        namespace: str,
        name: str,
        requirements: list[dict],
        updates: list[dict],
    ) -> dict:
        return self._call(
            "POST",
            f"/v1/namespaces/{namespace}/tables/{name}",
            {"requirements": requirements, "updates": updates},
        )

    def _table_from_location(self, metadata_location: str) -> IcebergTable:
        import os

        # .../<table root>/metadata/vN.metadata.json
        root = os.path.dirname(os.path.dirname(metadata_location))
        return IcebergTable(root, file_io=self.file_io)

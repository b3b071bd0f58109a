"""S8: JSON-RPC API surface — the reference's server endpoints as a thin,
transport-free dispatch layer.

Reference: KBaseSearchEngineServer.java:215-274 exposes four
``@JsonServerMethod`` endpoints (``search_objects``, ``search_types``,
``get_objects``, ``list_types``) whose bodies are one-line delegations to
SearchMethods; the param/result translation lives in
main/SearchMethods.java:102-194 (spec POJOs -> internal search objects).
This module is that exact layering for the Spark engine:

  JSON-RPC envelope  ->  _to_match/_to_access/... translation  ->
  plans/search.py facade  ->  rows  ->  spec-shaped result dicts

The dispatcher is deliberately NOT a network server: ``handle()`` takes
and returns plain dicts, so it runs inside tests, notebooks, or any
transport (the optional ``serve()`` wraps it in the stdlib HTTP server
for parity with the reference's deployment — zero third-party deps).
Collecting here is correct by design: this is the serving boundary. On
the fan-out only the requested page (<= pagination.count rows) reaches
the driver; a match set of the driver-local tier (posting volume <=
topk.LOCAL_POSTINGS_MAX) is already there, and is paged and counted in
Arrow with no Spark job.

Auth boundary analog: the reference resolves the caller's workspace
groups via AccessGroupProvider.findAccessGroupIds(user)
(SearchMethods.java:124-137 — a network call). Here that provider is an
injectable ``groups_for(user) -> list[int]`` callable.
"""

from __future__ import annotations

import time
from collections.abc import Callable

import pyarrow as pa
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..operators.topk import InvertedIndex
# search_objects is not called here; perfbench/ traces the search layer
# under these rpc-module names
from ..plans.search import (
    AccessFilter,
    MatchFilter,
    Pagination,
    PostProcessing,
    SortingRule,
    _apply_post,
    _by_relevance,
    _highlight_pattern,
    _kept_columns,
    _local_page,
    _page,
    get_objects,
    match_frame,
    match_rows,
    search_objects,  # noqa: F401
    search_types,
)

_SYSTEM = {"doc_id", "score", "highlight", "sha256", "segment", "dl"}
_DATA = {"text", "content"}


def _to_match(p: dict | None) -> MatchFilter:
    """SearchMethods.toSearch(MatchFilter) analog (SearchMethods.java:
    102-122): spec MatchFilter dict -> engine MatchFilter."""
    p = p or {}
    mf = MatchFilter(full_text=p.get("full_text_in_all") or None)
    for key, mv in (p.get("lookup_in_keys") or {}).items():
        if not isinstance(mv, dict):
            mf.term_eq[key] = mv
            continue
        if "value" in mv:
            mf.term_eq[key] = mv["value"]
        elif "int_value" in mv:
            mf.term_eq[key] = int(mv["int_value"])
        elif "min_int" in mv or "max_int" in mv:
            mf.ranges[key] = (mv.get("min_int"), mv.get("max_int"))
        elif "min_double" in mv or "max_double" in mv:
            mf.ranges[key] = (mv.get("min_double"), mv.get("max_double"))
        elif "min_date" in mv or "max_date" in mv:
            mf.ranges[key] = (mv.get("min_date"), mv.get("max_date"))
    tags = p.get("source_tags") or []
    if tags:
        if p.get("source_tags_blacklist"):
            mf.term_not_in["source"] = list(tags)
        else:
            mf.term_in["source"] = list(tags)
    if p.get("exclude_subobjects"):
        mf.term_eq["is_sub"] = False
    return mf


def _to_access(
    p: dict | None, user: str | None, groups_for: Callable | None
) -> AccessFilter | None:
    """SearchMethods.toSearch(AccessFilter, user) analog
    (SearchMethods.java:124-137). An ABSENT access_filter means
    unconstrained (None -> the facade skips access predicates); a present
    one resolves the caller's groups through the injected provider."""
    if p is None:
        return None
    groups: list[int] = []
    if p.get("with_private", 1) and user is not None and groups_for:
        groups = [int(g) for g in groups_for(user)]
    return AccessFilter(
        user_groups=groups,
        with_public=bool(p.get("with_public", 0)),
        admin=bool(p.get("admin", 0)),
        with_all_history=bool(p.get("with_all_history", 0)),
    )


def _to_sorting(rules: list | None) -> list[SortingRule] | None:
    if not rules:
        return None
    return [
        SortingRule(r.get("property", "doc_id"),
                    ascending=bool(r.get("ascending", 1)))
        for r in rules
    ]


def _to_post(p: dict | None) -> PostProcessing:
    p = p or {}
    return PostProcessing(
        ids_only=bool(p.get("ids_only", 0)),
        include_content=not p.get("skip_data", 0),
        highlight=bool(p.get("include_highlight", 0)),
        skip_keys=bool(p.get("skip_keys", 0)),
        skip_data=bool(p.get("skip_data", 0)),
        select_keys=p.get("select_keys"),
        highlight_fields=p.get("highlight_fields"),
    )


def _object_data(row: dict) -> dict:
    """ObjectData analog (buildObjectData,
    ElasticIndexingStorage.java:1140-1204): guid + keyword props split
    from system/payload columns."""
    out = {"guid": row["doc_id"]}
    props = {
        k: v for k, v in row.items()
        if k not in _SYSTEM and k not in _DATA
        and not k.startswith("highlight_")
    }
    if props:
        out["object_props"] = props
    for c in _DATA:
        if c in row:
            out["data"] = row[c]
            break
    # the reference's highlight result is {field: [fragments]} keyed by
    # readable field names (ElasticIndexingStorage.java:1196-1217
    # getKeyProps mapping); per-field highlight_<f> columns fold into
    # that map — NULL columns (field didn't match) are omitted, like the
    # reference omits non-matching fields
    hl_map = {
        k[len("highlight_"):]: [v]
        for k, v in row.items()
        if k.startswith("highlight_") and v is not None
    }
    if "highlight" in row and row["highlight"] is not None:
        hl_map.setdefault("_all", [row["highlight"]])
    if hl_map:
        out["highlight"] = hl_map
    if "sha256" in row:
        out["object_hash"] = row["sha256"]
    return out


def _local_page_rows(
    index: InvertedIndex,
    rows: pa.Table,
    match: MatchFilter,
    sorting: list[SortingRule] | None,
    pagination: Pagination,
    post: PostProcessing,
) -> list[dict]:
    """A page of a local match table (match_rows), whose row count is
    hits.total: ordered, sliced and cut to its post-processed columns in
    Arrow. Only a highlight goes through Spark (_apply_post over a local
    relation of the page), which still runs no job."""
    page = _local_page(index, rows, sorting, pagination, post)
    if post.ids_only or _highlight_pattern(match, post) is None:
        return page.select(_kept_columns(page.column_names, post)).to_pylist()
    out = _apply_post(index.rows_frame(page), match, post)
    return [r.asDict(recursive=True) for r in out.collect()]


def _page_and_total(
    frame: DataFrame,
    match: MatchFilter,
    sorting: list[SortingRule] | None,
    pagination: Pagination,
    post: PostProcessing,
) -> tuple[list[dict], int]:
    """A page of a fan-out match frame and hits.total, the full match-set
    size (spec KBaseSearchEngine.spec:262,281), from one pass: the total
    is counted while the page's own scan pulls every match through (the
    reference reads both from one ES response,
    ElasticIndexingStorage.java:1557).
    The page's sort-and-limit merges per-partition top rows on the
    driver, so no exchange sits above the count: it runs in the result
    stage, whose task metrics Spark applies once per partition, and a
    speculative duplicate task cannot count twice."""
    obs = Observation()
    observed = frame.observe(obs, F.count(F.lit(1)).alias("n"))
    page = _page(observed, match, sorting, pagination, post)
    rows = [r.asDict(recursive=True) for r in page.collect()]
    try:
        return rows, int(obs.get["n"])
    except Py4JJavaError:
        # no metrics: Catalyst folded the observed plan to an empty
        # relation, so the observation never ran. An empty first page
        # then has no match at all; a past-the-end or count-0 page may
        # have folded for its own bounds, so it counts.
        if not rows and pagination.start == 0 < pagination.count:
            return rows, 0
        return rows, frame.count()


class RpcService:
    """The four reference endpoints over one index.

    type_col: the docs column acting as the searchable object type
    (search_types aggregation); specs: optional {name: TypeSpec} registry
    backing list_types (functions/typespec.py).
    """

    def __init__(
        self,
        index: InvertedIndex,
        type_col: str = "lang",
        specs: dict | None = None,
        groups_for: Callable[[str], list] | None = None,
    ):
        self.index = index
        self.type_col = type_col
        self.specs = specs or {}
        self.groups_for = groups_for

    # -- endpoints (spec-shaped dict in -> dict out) ----------------------
    def search_objects(self, params: dict, user: str | None = None) -> dict:
        t0 = time.time()
        mf = _to_match(params.get("match_filter"))
        access = _to_access(params.get("access_filter"), user, self.groups_for)
        sorting = _to_sorting(params.get("sorting_rules"))
        pag = params.get("pagination") or {}
        pagination = Pagination(
            int(pag.get("start", 0)), int(pag.get("count", 50))
        )
        post = _to_post(params.get("post_processing"))
        relevance = _by_relevance(sorting)
        matches = match_rows(self.index, mf, access=access, scores=relevance)
        if matches is not None:
            rows = _local_page_rows(
                self.index, matches, mf, sorting, pagination, post)
            total = matches.num_rows
        else:
            frame = match_frame(self.index, mf, access=access,
                                scores=relevance)
            rows, total = _page_and_total(frame, mf, sorting, pagination, post)
        if post.ids_only:
            objects = [{"guid": r["doc_id"]} for r in rows]
        else:
            objects = [_object_data(r) for r in rows]
        return {
            "objects": objects,
            "total": total,
            "search_time": int((time.time() - t0) * 1000),
            "pagination": {"start": pagination.start,
                           "count": pagination.count},
        }

    def search_types(self, params: dict, user: str | None = None) -> dict:
        t0 = time.time()
        mf = _to_match(params.get("match_filter"))
        access = _to_access(params.get("access_filter"), user, self.groups_for)
        counts = search_types(
            self.index, mf, type_col=self.type_col, access=access
        ).collect()
        return {
            "type_to_count": {r["type"]: r["count"] for r in counts},
            "search_time": int((time.time() - t0) * 1000),
        }

    def get_objects(self, params: dict, user: str | None = None) -> dict:
        t0 = time.time()
        ids = [int(g) for g in params.get("guids", [])]
        post = _to_post(params.get("post_processing"))
        df = get_objects(self.index, ids)
        if post.skip_data:
            df = df.drop(*[c for c in _DATA if c in df.columns])
        rows = [r.asDict(recursive=True) for r in df.collect()]
        return {
            "objects": [_object_data(r) for r in rows],
            "search_time": int((time.time() - t0) * 1000),
        }

    def list_types(self, params: dict, user: str | None = None) -> dict:
        """TypeDescriptor registry (KBaseSearchEngineServer.java:262-274;
        descriptors from the YAML TypeSpecs)."""
        name = (params or {}).get("type_name")
        out = {}
        for spec_name, spec in self.specs.items():
            if name and spec_name != name:
                continue
            keys = [
                {"key_name": r.name,
                 "key_value_type": ("text" if r.full_text else r.transform)}
                for r in spec.rules()
            ]
            out[spec_name] = {
                "type_name": spec_name,
                "type_ui_title": spec_name,
                "keys": keys,
            }
        return {"types": out}

    # -- JSON-RPC envelope ------------------------------------------------
    _METHODS = ("search_objects", "search_types", "get_objects", "list_types")

    def handle(self, request: dict, user: str | None = None) -> dict:
        """One JSON-RPC call: {method: 'KBaseSearchEngine.<m>', params:
        [<input>], id} -> {result: [<output>], id} | {error}. The KBase
        SDK's JSON-RPC 1.1 shape (single-element params/result arrays)."""
        rid = request.get("id")
        method = str(request.get("method", ""))
        short = method.rsplit(".", 1)[-1]
        if short not in self._METHODS:
            return {
                "version": "1.1", "id": rid,
                "error": {"name": "JSONRPCError", "code": -32601,
                          "message": f"Method not found: {method}"},
            }
        params = request.get("params") or [{}]
        try:
            result = getattr(self, short)(params[0] or {}, user=user)
            return {"version": "1.1", "id": rid, "result": [result]}
        except Exception as e:  # noqa: BLE001 — server boundary
            return {
                "version": "1.1", "id": rid,
                "error": {"name": "JSONRPCError", "code": -32000,
                          "message": f"{type(e).__name__}: {e}"},
            }


def serve(service: RpcService, host: str = "127.0.0.1", port: int = 0):
    """Optional stdlib HTTP transport (deployment parity with the
    reference's servlet). Returns the bound (server, port); call
    ``server.serve_forever()`` (or shutdown()) from the caller — tests
    drive ``handle()`` directly instead."""
    import json as _json
    from http.server import BaseHTTPRequestHandler, HTTPServer

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802 — stdlib API name
            n = int(self.headers.get("Content-Length", 0))
            try:
                req = _json.loads(self.rfile.read(n) or b"{}")
            except ValueError:
                req = {}
            user = self.headers.get("Authorization")
            resp = _json.dumps(service.handle(req, user=user)).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(resp)))
            self.end_headers()
            self.wfile.write(resp)

        def log_message(self, *a):  # quiet
            pass

    server = HTTPServer((host, port), Handler)
    return server, server.server_address[1]

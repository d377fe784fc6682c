"""azuremonitorexporter analog — spans → Application Insights envelopes.

Reference: ``exporter/azuremonitorexporter/trace_to_envelope.go`` —

- SpanKind UNSPECIFIED is treated as INTERNAL (:63-65); FaaS-typed
  spans (``faas.trigger`` attribute present) are unsupported and
  dropped (:71-73);
- span type is detected by attribute *presence*, first match wins:
  ``http.method`` → HTTP, ``rpc.system`` → RPC, ``db.system`` → DB,
  ``messaging.system`` → messaging, ``faas.trigger`` → FaaS, else
  unknown (:591-622);
- SERVER/CONSUMER spans become RequestData envelopes
  ("Microsoft.ApplicationInsights.Request"), CLIENT/PRODUCER/INTERNAL
  become RemoteDependencyData envelopes; INTERNAL forces
  ``Type = "InProc"`` AFTER the per-type fill (:85-106);
- default ResponseCode/Success come from the two-field status rule
  (:625-653): if code==UNSET and deprecated_code != OK the overall
  code is ERROR; ResponseCode = decimal of the resolved code,
  Success = resolved code != ERROR;
- HTTP fill (:216-298 request, :302-385 dependency): status-code
  override (success = 100..399), Name = "METHOD route|name" (request,
  route "/"-prefixed) or "METHOD[ route]" (dependency), the 4-branch
  URL preference chains, Source = ``http.client_ip`` else
  ``net.peer.ip``;
- RPC fill (:389-441): ResponseCode = ``rpc.grpc.status_code`` when
  non-zero else the DEPRECATED status code (backwards compat),
  request Name = "system name" with Url = Name, dependency
  Data = span name / Type = system / Target = peer address
  (name over ip, ":port" appended only when port != 0, :655-667);
- DB fill (:445-459, dependency only — a DB-typed SERVER span hits
  *no* switch case in spanToRequestData:167-176, so its attributes
  are never copied): Type = ``db.system``, Data = statement else
  operation, Target = peer address;
- messaging fill (:463-492): request Source / dependency Target =
  ``messaging.url`` else peer address, dependency Data = url,
  Type = ``messaging.system``;
- every mapped attribute ALSO lands in properties (string/bool) or
  measurements (int/double) (:669-688); then ``otel.status_code`` /
  ``otel.status_deprecatedcode`` enum names (proto enum String(),
  decimal for out-of-range) and non-empty ``otel.status_description``
  (:108-114); then resource attrs OVERLAY properties (:117-120);
  then non-empty ``instrumentationlibrary.name``/``.version``
  (:122-129);
- envelope tags: ai.operation.id / ai.operation.parentId (empty-id
  renders ""), ai.operation.name for requests only, ai.cloud.role =
  "namespace.name" when ``service.namespace`` exists else
  ``service.name``, ai.cloud.roleInstance = ``service.instance.id``
  (:78-79, :90, :131-145);
- Time = RFC3339Nano of the span start (UTC collector clock,
  time_utils.go:25-27): fractional seconds right-trimmed of zeros,
  dot dropped when zero; Duration = "DD.HH:MM:SS.MMMMMM"
  (time_utils.go:30-46, microsecond resolution);
- contracts sanitization truncates over-long fields (Name 1024,
  Url 2048, Data 8192, Target/Source/ResponseCode 1024, Id 128);
  the truncation is applied, the warning log is not modeled.

Batch shape: one Catalyst projection — attribute lookups, CASE
chains, and map upserts; no Python on the row path.  Properties and
measurements are emitted sorted-serialized (``props_s``/``meas_s``)
for deterministic comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.attributes import merge_maps

REQUEST_KINDS = ("server", "consumer")
DEPENDENCY_KINDS = ("client", "producer", "internal")

STATUS_NAMES = {0: "STATUS_CODE_UNSET", 1: "STATUS_CODE_OK",
                2: "STATUS_CODE_ERROR"}
DEPRECATED_NAMES = {
    0: "DEPRECATED_STATUS_CODE_OK", 1: "DEPRECATED_STATUS_CODE_CANCELLED",
    2: "DEPRECATED_STATUS_CODE_UNKNOWN_ERROR",
    3: "DEPRECATED_STATUS_CODE_INVALID_ARGUMENT",
    4: "DEPRECATED_STATUS_CODE_DEADLINE_EXCEEDED",
    5: "DEPRECATED_STATUS_CODE_NOT_FOUND",
    6: "DEPRECATED_STATUS_CODE_ALREADY_EXISTS",
    7: "DEPRECATED_STATUS_CODE_PERMISSION_DENIED",
    8: "DEPRECATED_STATUS_CODE_RESOURCE_EXHAUSTED",
    9: "DEPRECATED_STATUS_CODE_FAILED_PRECONDITION",
    10: "DEPRECATED_STATUS_CODE_ABORTED",
    11: "DEPRECATED_STATUS_CODE_OUT_OF_RANGE",
    12: "DEPRECATED_STATUS_CODE_UNIMPLEMENTED",
    13: "DEPRECATED_STATUS_CODE_INTERNAL_ERROR",
    14: "DEPRECATED_STATUS_CODE_UNAVAILABLE",
    15: "DEPRECATED_STATUS_CODE_DATA_LOSS",
    16: "DEPRECATED_STATUS_CODE_UNAUTHENTICATED",
}


def _enum_name(code, table: dict[int, str]):
    """proto enum String(): the generated name, decimal when unknown."""
    out = None
    for c, n in table.items():
        w = (code == F.lit(c))
        out = F.when(w, F.lit(n)) if out is None else out.when(w, F.lit(n))
    return out.otherwise(code.cast("string"))


def _a(key: str):
    return F.try_element_at(F.col("attrs"), F.lit(key))


def _ai(key: str):
    return F.try_element_at(F.col("attrs_int"), F.lit(key))


def rfc3339nano(ns_col):
    """time.Format(RFC3339Nano) of a UTC ns timestamp: trailing zeros
    trimmed from the fraction, the dot dropped when the fraction is 0."""
    secs = F.floor(ns_col / F.lit(1_000_000_000)).cast("long")
    frac = (ns_col % F.lit(1_000_000_000)).cast("long")
    head = F.date_format(F.timestamp_seconds(secs), "yyyy-MM-dd'T'HH:mm:ss")
    frac_s = F.regexp_replace(F.format_string("%09d", frac), "0+$", "")
    return F.concat(
        head,
        F.when(frac > 0, F.concat(F.lit("."), frac_s)).otherwise(F.lit("")),
        F.lit("Z"))


def span_duration(start_ns, end_ns):
    """formatDuration (time_utils.go:30-46): DD.HH:MM:SS.MMMMMM at
    microsecond resolution (Go Duration division truncates)."""
    us = F.floor((end_ns - start_ns) / F.lit(1000)).cast("long")
    day = F.floor(us / F.lit(86_400_000_000)).cast("long")
    rem = us % F.lit(86_400_000_000)
    h = F.floor(rem / F.lit(3_600_000_000)).cast("long")
    rem = rem % F.lit(3_600_000_000)
    m = F.floor(rem / F.lit(60_000_000)).cast("long")
    rem = rem % F.lit(60_000_000)
    s = F.floor(rem / F.lit(1_000_000)).cast("long")
    return F.format_string("%02d.%02d:%02d:%02d.%06d", day, h, m, s,
                           rem % F.lit(1_000_000))


def _url_host(url_col):
    """Go url.Parse(...).Host — scheme-stripped authority incl. port."""
    return F.regexp_extract(url_col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)


def _nonempty(col):
    return F.length(F.coalesce(col, F.lit(""))) > 0


def _serialize(m):
    return F.array_join(
        F.transform(F.array_sort(F.map_entries(m)),
                    lambda e: F.concat(e["key"], F.lit("="), e["value"])), ",")


def azure_envelopes(spans: DataFrame) -> DataFrame:
    """Span battery → flat Application Insights envelope rows.

    Input columns: trace_id, span_id, parent_span_id (nullable), name,
    kind (lowercase string), start_ns, end_ns, status_code,
    deprecated_code, status_message, attrs (map<string,string>),
    attrs_int (map<string,long>), attrs_double (map<string,double>),
    attrs_bool (map<string,boolean>), resource (map<string,string>),
    lib_name, lib_version.
    """
    kind = F.lower(F.coalesce(F.col("kind"), F.lit("")))
    kind = F.when(kind.isin("", "unspecified"), F.lit("internal")) \
        .otherwise(kind)
    is_request = kind.isin(*REQUEST_KINDS)

    span_type = (
        F.when(F.map_contains_key(F.col("attrs"), "http.method"), "http")
        .when(F.map_contains_key(F.col("attrs"), "rpc.system"), "rpc")
        .when(F.map_contains_key(F.col("attrs"), "db.system"), "db")
        .when(F.map_contains_key(F.col("attrs"), "messaging.system"),
              "messaging")
        .when(F.map_contains_key(F.col("attrs"), "faas.trigger"), "faas")
        .otherwise("unknown"))

    # Staged ``select``s with NAMED intermediates: a single flat
    # projection duplicated every map lookup into each CASE arm and —
    # worse — the 4-deep merge_maps chain re-expanded its ``existing``
    # side twice per level (2^3 copies of the base props expression),
    # blowing the JVM 64 KB generated-method limit ("ERROR
    # CodeGenerator: … Code grows beyond 64 KB") into interpreted
    # fallback.  CollapseProject keeps multi-referenced non-cheap
    # aliases as separate projections, so each stage codegens small.
    df = (spans
          .withColumn("_kind", kind)
          .withColumn("_type", span_type)
          .filter(F.col("_type") != "faas")
          .withColumn("_is_req", is_request))

    a1 = df.select(
        "*",
        F.coalesce(_a("http.method"), F.lit("")).alias("_method"),
        F.coalesce(_a("http.route"), F.lit("")).alias("_route"),
        F.coalesce(_a("http.target"), F.lit("")).alias("_target"),
        F.coalesce(_a("http.scheme"), F.lit("")).alias("_scheme"),
        F.coalesce(_a("http.host"), F.lit("")).alias("_http_host"),
        F.coalesce(_a("http.server_name"), F.lit("")).alias("_server_name"),
        F.coalesce(_a("net.host.name"), F.lit("")).alias("_host_name"),
        F.coalesce(_ai("net.host.port"), F.lit(0)).alias("_host_port"),
        F.coalesce(_a("net.peer.name"), F.lit("")).alias("_peer_name"),
        F.coalesce(_a("net.peer.ip"), F.lit("")).alias("_peer_ip"),
        F.coalesce(_ai("net.peer.port"), F.lit(0)).alias("_peer_port"),
        F.coalesce(_a("http.url"), F.lit("")).alias("_http_url"),
        F.coalesce(_a("rpc.system"), F.lit("")).alias("_rpc_system"),
        F.coalesce(_a("messaging.url"), F.lit("")).alias("_msg_url"),
        _ai("http.status_code").alias("_hsc"),
        F.coalesce(_ai("rpc.grpc.status_code"), F.lit(0)).alias("_grpc"),
        _a("http.client_ip").alias("_client_ip"),
        _a("db.statement").alias("_db_statement"),
        _a("db.operation").alias("_db_operation"),
        _a("db.system").alias("_db_system"),
        _a("messaging.system").alias("_msg_system"))

    # -- status defaults (:625-653)
    code = F.col("status_code")
    eff = F.when((code == 0) & (F.col("deprecated_code") != 0), F.lit(2)) \
        .otherwise(code)

    route = F.col("_route")
    target = F.col("_target")
    host_port = F.col("_host_port")
    peer_port = F.col("_peer_port")
    a2 = a1.select(
        "*",
        F.when(F.substring(route, 1, 1) == "/", route)
        .otherwise(F.concat(F.lit("/"), route)).alias("_route_pref"),
        F.when(F.substring(target, 1, 1) == "/", target)
        .otherwise(F.concat(F.lit("/"), target)).alias("_target_pref"),
        F.when(host_port != 0, host_port.cast("string"))
        .otherwise(F.lit("")).alias("_host_port_s"),
        F.when(peer_port != 0, peer_port.cast("string"))
        .otherwise(F.lit("")).alias("_peer_port_s"),
        # writeFormattedPeerAddressFromNetworkAttributes (:655-667)
        F.when(peer_port != 0,
               F.concat(F.when(F.col("_peer_name") != "",
                               F.col("_peer_name"))
                        .otherwise(F.col("_peer_ip")),
                        F.lit(":"), peer_port.cast("string")))
        .otherwise(F.when(F.col("_peer_name") != "", F.col("_peer_name"))
                   .otherwise(F.col("_peer_ip"))).alias("_peer"),
        eff.alias("_eff"))

    default_response = F.col("_eff").cast("string")
    default_success = (F.col("_eff") != 2).cast("int")

    hsc = F.col("_hsc")
    has_hsc = F.coalesce(hsc, F.lit(0)) != 0
    http_response = hsc.cast("string")
    http_success = ((hsc >= 100) & (hsc <= 399)).cast("int")

    grpc = F.col("_grpc")
    rpc_response = F.when(grpc != 0, grpc.cast("string")) \
        .otherwise(F.col("deprecated_code").cast("string"))

    t = F.col("_type")
    req = F.col("_is_req")
    method = F.col("_method")
    route_pref = F.col("_route_pref")
    target_pref = F.col("_target_pref")
    scheme = F.col("_scheme")
    http_host = F.col("_http_host")
    server_name = F.col("_server_name")
    host_name = F.col("_host_name")
    host_port_s = F.col("_host_port_s")
    peer_name = F.col("_peer_name")
    peer_ip = F.col("_peer_ip")
    peer_port_s = F.col("_peer_port_s")
    http_url = F.col("_http_url")
    rpc_system = F.col("_rpc_system")
    msg_url = F.col("_msg_url")
    peer = F.col("_peer")

    # -- name (:226-239 request, :313-323 dependency)
    item_name = (
        F.when(t == "http",
               F.when(req, F.concat(method, F.lit(" "),
                                    F.when(route != "", route_pref)
                                    .otherwise(F.col("name"))))
               .otherwise(F.concat(method,
                                   F.when(route != "",
                                          F.concat(F.lit(" "), route))
                                   .otherwise(F.lit("")))))
        .when((t == "rpc") & req,
              F.concat(rpc_system, F.lit(" "), F.col("name")))
        .otherwise(F.col("name")))
    a3 = a2.select("*", item_name.alias("_item_name"))
    item_name = F.col("_item_name")

    # -- request Url chain (:242-286) / dependency Data+Target (:326-384)
    req_url = F.when(t == "http", F.when(
        (scheme != "") & (http_host != "") & (target != ""),
        F.concat(scheme, F.lit("://"), http_host, target_pref)).when(
        (scheme != "") & (server_name != "") & (host_port_s != "")
        & (target != ""),
        F.concat(scheme, F.lit("://"), server_name, F.lit(":"), host_port_s,
                 target_pref)).when(
        (scheme != "") & (host_name != "") & (host_port_s != "")
        & (target != ""),
        F.concat(scheme, F.lit("://"), host_name, F.lit(":"), host_port_s,
                 target_pref)).when(
        http_url != "", http_url)) \
        .when((t == "rpc") & req, item_name)

    dep_http_data = F.when(
        http_url != "", http_url).when(
        (scheme != "") & (http_host != "") & (target != ""),
        F.concat(scheme, F.lit("://"), http_host, target_pref)).when(
        (scheme != "") & (peer_name != "") & (peer_port_s != "")
        & (target != ""),
        F.concat(scheme, F.lit("://"), peer_name, F.lit(":"), peer_port_s,
                 target_pref)).when(
        (scheme != "") & (peer_ip != "") & (peer_port_s != "")
        & (target != ""),
        F.concat(scheme, F.lit("://"), peer_ip, F.lit(":"), peer_port_s,
                 target_pref))
    dep_http_target = F.when(
        http_url != "", _url_host(http_url)).when(
        (scheme != "") & (http_host != "") & (target != ""), http_host).when(
        (scheme != "") & (peer_name != "") & (peer_port_s != "")
        & (target != ""),
        F.concat(peer_name, F.lit(":"), peer_port_s)).when(
        (scheme != "") & (peer_ip != "") & (peer_port_s != "")
        & (target != ""),
        F.concat(peer_ip, F.lit(":"), peer_port_s))
    a4 = a3.select(
        "*",
        F.when(req, req_url).alias("_req_url"),
        F.when(~req, dep_http_data).alias("_dep_http_data"),
        F.when(~req, dep_http_target).alias("_dep_http_target"))

    dep_data = (
        F.when(t == "http", F.col("_dep_http_data"))
        .when(t == "rpc", F.col("name"))
        .when(t == "db",
              F.when(_nonempty(F.col("_db_statement")),
                     F.col("_db_statement"))
              .when(_nonempty(F.col("_db_operation")),
                    F.col("_db_operation")))
        .when(t == "messaging", msg_url))
    dep_target = (
        F.when(t == "http", F.col("_dep_http_target"))
        .when(t.isin("rpc", "db"), peer)
        .when(t == "messaging",
              F.when(msg_url != "", msg_url).otherwise(peer)))
    dep_type_base = (
        F.when(t == "http", F.lit("HTTP"))
        .when(t == "rpc", rpc_system)
        .when(t == "db", F.col("_db_system"))
        .when(t == "messaging", F.col("_msg_system")))
    dep_type = F.when(F.col("_kind") == "internal", F.lit("InProc")) \
        .otherwise(dep_type_base)

    req_source = (
        F.when(t == "http",
               F.when(_nonempty(F.col("_client_ip")), F.col("_client_ip"))
               .when(F.col("_peer_ip") != "", F.col("_peer_ip")))
        .when(t == "rpc", peer)
        .when(t == "messaging",
              F.when(msg_url != "", msg_url).otherwise(peer)))

    response_code = (
        F.when((t == "http") & has_hsc, http_response)
        .when(t == "rpc", rpc_response)
        .otherwise(default_response))
    success = F.when((t == "http") & has_hsc, http_success) \
        .otherwise(default_success)

    # -- properties / measurements (:495-518, :669-688); a DB-typed
    # request hits no switch case, so nothing is copied (:167-176)
    copied = ~(req & (t == "db"))
    empty_s = F.expr("cast(map() as map<string,string>)")
    empty_d = F.expr("cast(map() as map<string,double>)")
    status_props = F.map_concat(
        F.create_map(F.lit("otel.status_code"),
                     _enum_name(code, STATUS_NAMES),
                     F.lit("otel.status_deprecatedcode"),
                     _enum_name(F.col("deprecated_code"), DEPRECATED_NAMES)),
        F.when(_nonempty(F.col("status_message")),
               F.create_map(F.lit("otel.status_description"),
                            F.col("status_message"))).otherwise(empty_s))
    lib_props = F.map_concat(
        F.when(_nonempty(F.col("lib_name")),
               F.create_map(F.lit("instrumentationlibrary.name"),
                            F.col("lib_name"))).otherwise(empty_s),
        F.when(_nonempty(F.col("lib_version")),
               F.create_map(F.lit("instrumentationlibrary.version"),
                            F.col("lib_version"))).otherwise(empty_s))
    # each merge_maps references its ``existing`` side TWICE — staging
    # one level per select keeps the re-reference a cheap attribute
    a5 = a4.select(
        "*",
        F.when(
            copied,
            merge_maps(F.transform_values(F.col("attrs_bool"),
                                          lambda k, v: F.when(v, "true")
                                          .otherwise("false")),
                       F.col("attrs"), mode="upsert")).otherwise(empty_s)
        .alias("_props0"),
        F.when(
            copied,
            merge_maps(F.transform_values(F.col("attrs_int"),
                                          lambda k, v: v.cast("double")),
                       F.col("attrs_double"), mode="upsert"))
        .otherwise(empty_d).alias("_meas"))
    a6 = a5.select("*", merge_maps(F.col("_props0"), status_props,
                                   mode="upsert").alias("_props1"))
    a7 = a6.select("*", merge_maps(F.col("_props1"), F.col("resource"),
                                   mode="upsert").alias("_props2"))
    a8 = a7.select("*", merge_maps(F.col("_props2"), lib_props,
                                   mode="upsert").alias("_props3"))
    props = F.col("_props3")
    meas = F.col("_meas")

    # -- cloud role tags (:131-145)
    svc = F.try_element_at(F.col("resource"), F.lit("service.name"))
    ns = F.try_element_at(F.col("resource"), F.lit("service.namespace"))
    cloud_role = F.when(svc.isNotNull(),
                        F.when(ns.isNotNull(),
                               F.concat(ns, F.lit("."), svc)).otherwise(svc))

    return a8.select(
        F.when(req, F.lit("Microsoft.ApplicationInsights.Request"))
        .otherwise(F.lit("Microsoft.ApplicationInsights.RemoteDependency"))
        .alias("envelope_name"),
        rfc3339nano(F.col("start_ns")).alias("time_rfc3339"),
        F.col("trace_id").alias("operation_id"),
        F.coalesce(F.col("parent_span_id"), F.lit(""))
        .alias("operation_parent_id"),
        F.when(req, F.substring(item_name, 1, 1024)).alias("operation_name"),
        cloud_role.alias("cloud_role"),
        F.try_element_at(F.col("resource"), F.lit("service.instance.id"))
        .alias("cloud_role_instance"),
        F.when(req, F.lit("RequestData")).otherwise("RemoteDependencyData")
        .alias("base_type"),
        F.substring(F.col("span_id"), 1, 128).alias("item_id"),
        F.substring(item_name, 1, 1024).alias("item_name"),
        span_duration(F.col("start_ns"), F.col("end_ns")).alias("duration"),
        F.substring(response_code, 1, 1024).alias("response_code"),
        success.alias("success"),
        # contracts fields default to "" (NewRequestData /
        # NewRemoteDependencyData), not null — unfilled stays empty
        F.when(req, F.substring(F.coalesce(F.col("_req_url"), F.lit("")),
                                1, 2048)).alias("url"),
        F.when(req, F.substring(F.coalesce(req_source, F.lit("")), 1, 1024))
        .alias("source"),
        F.when(~req, F.substring(F.coalesce(dep_type, F.lit("")), 1, 1024))
        .alias("dep_type"),
        F.when(~req, F.substring(F.coalesce(dep_data, F.lit("")), 1, 8192))
        .alias("dep_data"),
        F.when(~req, F.substring(F.coalesce(dep_target, F.lit("")), 1, 1024))
        .alias("dep_target"),
        _serialize(props).alias("props_s"),
        _serialize(F.transform_values(meas, lambda k, v: v.cast("string")))
        .alias("meas_s"))

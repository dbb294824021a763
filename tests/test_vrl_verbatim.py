"""Verbatim-VRL source compatibility: reference transform text runs
UNMODIFIED (r4 verdict task 2). Each golden here is the construct
inventory of a real managed-source program (cited), with inputs and
hand-computed expected outputs:

  - local variables (incl. nested local paths), conditional rebinding
  - for_each closures mutating outer vars / row paths → JVM fold
  - block-expression if (VRL block value)
  - dynamic paths set!(o, [k], v) / get!(a, [i])
  - error destructuring `_, err = f(...)`
  - `||` value-or, r'...' regex literals, |= merge-assign
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from matano_spark.transform.parser import compile_vrl


# ref: data/managed/log_sources/okta/tables/system.yml:225-247 (the
# manual kv parser: values are comma-joined, the next key rides the
# last comma segment)
OKTA_RISK = r"""
  risk = string!(.debug_risk || "")
  .flattened_risk = if !is_empty(risk) {
    if match(risk, r'\{.*\}') {
        risk = slice!(risk, 1, -1)
    }
    parts = split(risk, "=")
    parts_obj = {}
    if length(parts) >= 2 {
        curr_key = parts[0]
        parts = slice!(parts, 1)
        for_each(parts) -> |i, v| {
            is_last = i == length(parts) - 1
            values = split(v, ", ")
            if !is_last {
                parts_obj = set!(parts_obj, [curr_key], join!(slice!(values, 0, -1), ", "))
                curr_key = get!(values, [-1])
            } else {
                parts_obj = set!(parts_obj, [curr_key], join!(values, ", "))
            }
        }
    }
    parts_obj
  } else {
    null
  }
"""


def test_okta_risk_kv_parser_verbatim(spark):
    f = compile_vrl(OKTA_RISK)
    df = spark.createDataFrame(
        [
            ("{reasons=Anomalous Location, level=MEDIUM}",),
            (None,),
            ("{x=1}",),
            ("no-equals-here",),
        ],
        "debug_risk string",
    )
    rows = {r["debug_risk"]: r["flattened_risk"] for r in f(df).collect()}
    assert rows["{reasons=Anomalous Location, level=MEDIUM}"] == {
        "reasons": "Anomalous Location",
        "level": "MEDIUM",
    }
    assert rows[None] is None
    assert rows["{x=1}"] == {"x": "1"}
    assert rows["no-equals-here"] == {}  # parts_obj stays empty


# ref: data/managed/log_sources/aws_config_history/log_source.yml:145-157
CONFIG_TAGS = """
  if !is_empty(object(.json.tags) ?? {}) {
    .tags_json = encode_json(.json.tags)
    obj_tags = object!(.json.tags)
    .tags = []
    for_each(obj_tags) -> |k, v| {
      tag = join!([k, v], "=")
      .tags = push(.tags, tag)
    }
  }
"""


def test_config_history_tags_loop_verbatim(spark):
    f = compile_vrl(CONFIG_TAGS)
    df = spark.createDataFrame(
        [(1, ({"env": "prod", "team": "sec"},)), (2, ({},)), (3, (None,))],
        "id long, json struct<tags:map<string,string>>",
    )
    rows = {r["id"]: r.asDict() for r in f(df).collect()}
    # object iteration is key-ordered (VRL BTreeMap)
    assert rows[1]["tags"] == ["env=prod", "team=sec"]
    assert rows[1]["tags_json"] == '{"env":"prod","team":"sec"}'
    assert rows[2].get("tags") is None  # guard false: loop never ran
    assert rows[3].get("tags") is None


# ref: data/managed/log_sources/aws_route53_resolver_logs/log_source.yml:218-249
ROUTE53_PTR = """
  if ends_with(.q, ".") {
    .q = slice!(.q, 0, length(.q) - 1)
  }
  ip = null
  if contains(.q, ".in-addr.arpa") {
    ip_arr = split(replace(.q, ".in-addr.arpa", ""), ".")
    reverse_ip = []
    for_each(ip_arr) -> |_i, ip| {
      reverse_ip = flatten([ip, reverse_ip])
    }
    ip = join!(reverse_ip, ".")
  } else if contains(.q, ".ip6.arpa") {
    ip_arr = split(replace(.q, ".ip6.arpa", ""), ".")
    reverse_ip = []
    for_each(ip_arr) -> |_i, ip| {
      reverse_ip = flatten([ip, reverse_ip])
    }
    j = 1
    final_ip_arr = []
    for_each(reverse_ip) -> |i, ip| {
      final_ip_arr = push(final_ip_arr, ip)
      if mod(j, 4) == 0 && i != 0 && i != length(reverse_ip) - 1 {
        j = 0
        final_ip_arr = push(final_ip_arr, ":")
      }
      j = j + 1
    }
    ip = join!(final_ip_arr, "")
  }
  .resolved = ip
"""


def test_route53_ptr_loops_verbatim(spark):
    f = compile_vrl(ROUTE53_PTR)
    v6 = ".".join(reversed(list("20010db8000000000000000000000042"))) + ".ip6.arpa"
    df = spark.createDataFrame(
        [("4.3.2.1.in-addr.arpa.",), (v6,), ("example.com",)],
        "q string",
    )
    rows = {r["q"]: r["resolved"] for r in f(df).collect()}
    assert rows["4.3.2.1.in-addr.arpa"] == "1.2.3.4"
    assert rows[v6.rstrip(".")] == "2001:0db8:0000:0000:0000:0000:0000:0042"
    assert rows["example.com"] is None


# ref: data/managed/log_sources/zeek/tables/dns.yml:250-267 (get! with a
# closure index var; error destructuring; struct push)
ZEEK_ANSWERS = """
  answers = array!(.zeek_answers)
  ttls = array!(.zeek_ttls)
  if !is_empty(answers) && !is_empty(ttls) && length(answers) == length(ttls) {
    .dns_answers = []
    .resolved_ip = []
    for_each(answers) -> |i, ans| {
      ttl = get!(ttls, [i])
      .dns_answers = push(.dns_answers, {"data": ans, "ttl": to_int!(ttl) })
      _, err = ip_pton(ans)
      is_ip = err == null
      if is_ip {
        .resolved_ip = push(.resolved_ip, ans)
      }
    }
  }
"""


def test_zeek_dns_answers_loop_verbatim(spark):
    f = compile_vrl(ZEEK_ANSWERS)
    df = spark.createDataFrame(
        [
            (1, ["10.0.0.5", "ns1.example.com", "2001:db8::1"], ["60", "120", "30"]),
            (2, ["a.b"], ["60", "61"]),  # length mismatch: loop skipped
        ],
        "id long, zeek_answers array<string>, zeek_ttls array<string>",
    )
    rows = {r["id"]: r.asDict() for r in f(df).collect()}
    assert [a.asDict() for a in rows[1]["dns_answers"]] == [
        {"data": "10.0.0.5", "ttl": 60},
        {"data": "ns1.example.com", "ttl": 120},
        {"data": "2001:db8::1", "ttl": 30},
    ]
    assert rows[1]["resolved_ip"] == ["10.0.0.5", "2001:db8::1"]
    assert rows[2].get("dns_answers") is None


# ref: data/managed/log_sources/suricata/tables/eve.yml:404-416 (param
# REBINDING via expression-if inside the loop)
SURICATA_QUERY = """
  if .url_query != null {
    query = []
    for_each(object!(.url_query)) -> |k, v| {
      v = if v != "" { k + "=" + v } else { k }
      query = push(query, v)
    }
    .query_str = join(query, "&") ?? null
  }
"""


def test_suricata_query_rebuild_verbatim(spark):
    f = compile_vrl(SURICATA_QUERY)
    df = spark.createDataFrame(
        [(1, {"a": "1", "flag": "", "b": "x y"}), (2, None)],
        "id long, url_query map<string,string>",
    )
    rows = {r["id"]: r.asDict().get("query_str") for r in f(df).collect()}
    assert rows[1] == "a=1&b=x y&flag"  # key-ordered object iteration
    assert rows[2] is None


# ref: data/managed/log_sources/google_workspace/tables/login.yml:175-192
GW_LOGIN = """
  if is_array(.params) {
    params = array!(.params)
    for_each(params) -> |i, v| {
      if starts_with(v.name, "login_") ?? false {
        v.name = slice!(v.name, 6)
      }
      if v.value != null {
        .login = set!(.login, [v.name], v.value)
      }
      if v.intValue != null {
        .login = set!(.login, [v.name], to_int!(v.intValue))
      }
    }
  }
"""


def test_google_workspace_login_params_verbatim(spark):
    f = compile_vrl(GW_LOGIN)
    df = spark.createDataFrame(
        [
            (
                1,
                [
                    {"name": "login_type", "value": "google_password", "intValue": None},
                    {"name": "login_challenge_method", "value": "password", "intValue": None},
                    {"name": "timestamp", "value": None, "intValue": "171"},
                ],
            ),
            (2, None),
        ],
        "id long, params array<struct<name:string,value:string,intValue:string>>",
    )
    import json as _json
    from pyspark.sql.types import VariantVal

    def norm(v):
        if isinstance(v, VariantVal):
            return _json.loads(v.toJson())
        if isinstance(v, dict):
            return {k: norm(x) for k, x in v.items()}
        return v

    rows = {r["id"]: norm(r.asDict().get("login")) for r in f(df).collect()}
    # dynamic-object values keep their runtime kinds (r8 variant
    # semantics): to_int!("171") lands as int 171, as in VRL
    assert rows[1] == {
        "type": "google_password",
        "challenge_method": "password",
        "timestamp": 171,
    }
    assert rows[2] is None


def test_merge_assign_operator(spark):
    f = compile_vrl('.a |= {"x": 2, "y": 3}\n')
    df = spark.createDataFrame([(1,)], "id long").withColumn(
        "a", F.struct(F.lit(1).alias("x"), F.lit("k").alias("z"))
    )
    r = f(df).collect()[0]["a"].asDict()
    assert r == {"z": "k", "x": 2, "y": 3}


def test_map_to_struct_schema_cast(spark):
    """A loop-built dynamic object (map) must coerce to the declared
    struct at projection time (schema/cast.py map→struct branch)."""
    from pyspark.sql import types as T

    from matano_spark.schema.cast import apply_schema

    df = spark.createDataFrame(
        [({"type": "google_password", "timestamp": "171"},)],
        "login map<string,string>",
    )
    schema = T.StructType(
        [
            T.StructField(
                "login",
                T.StructType(
                    [
                        T.StructField("type", T.StringType()),
                        T.StructField("timestamp", T.LongType()),
                    ]
                ),
            )
        ]
    )
    good, bad, _ = apply_schema(df, schema)
    assert bad.count() == 0
    row = good.collect()[0]["login"].asDict()
    assert row == {"type": "google_password", "timestamp": 171}


REF_MANAGED = "/root/reference/data/managed/log_sources"


@pytest.mark.skipif(
    not __import__("os").path.isdir(REF_MANAGED),
    reason="reference tree not present",
)
def test_every_reference_managed_program_parses():
    """Parse-coverage pin: ALL VRL programs embedded in the
    reference's managed log-source ymls parse (103 at r5), with no
    function name missing from the registry. `python
    tools/vrl_parse_survey.py` prints the detail."""
    from collections import Counter

    from tools.vrl_parse_survey import _collect_unknown, iter_programs
    from matano_spark.transform.parser import parse_program

    unknown: Counter = Counter()
    n = fails = 0
    for path, kind, prog in iter_programs(REF_MANAGED):
        n += 1
        try:
            _collect_unknown(parse_program(prog), unknown)
        except SyntaxError as e:
            fails += 1
            print(f"FAIL {path} [{kind}]: {e}")
    assert n >= 90  # the managed set only grows
    assert fails == 0
    assert not unknown, dict(unknown)


# ref: data/managed/log_sources/aws_route53_resolver_logs/log_source.yml:140-160
# (map_values closure that ALSO accumulates into row paths — desugared
# to the for_each fold)
ROUTE53_ANSWERS = """
  if .dns_answers != null && is_array(.dns_answers) {
    .dns_answers = map_values(array!(.dns_answers)) -> |ans| {
      ans.class = del(ans.Class)
      ans.type = string!(del(ans.Type))
      ans.data = del(ans.Rdata)
      if !is_nullish(ans.data) && ends_with!(ans.data, ".") {
        ans.data = slice!(ans.data, 0, length!(ans.data) - 1)
        if ans.type == "CNAME" {
          ans.name = ans.data
        }
      }
      if includes(["A", "AAAA"], ans.type) {
        .related_ip = push(.related_ip, ans.data)
      } else if includes(["CNAME", "PTR"], ans.type) {
        .related_hosts = push(.related_hosts, ans.data)
      }
      ans
    }
  }
"""


def test_route53_answers_map_with_row_accumulation(spark):
    f = compile_vrl(ROUTE53_ANSWERS)
    df = spark.createDataFrame(
        [
            (
                1,
                [
                    ("IN", "A", "10.0.0.9."),
                    ("IN", "CNAME", "alias.example.com."),
                ],
            ),
            (2, None),
        ],
        "id long, dns_answers array<struct<Class:string,Type:string,Rdata:string>>",
    )
    rows = {r["id"]: r.asDict() for r in f(df).collect()}
    answers = [a.asDict() for a in rows[1]["dns_answers"]]
    assert answers[0]["type"] == "A" and answers[0]["data"] == "10.0.0.9"
    assert answers[1]["name"] == "alias.example.com"  # CNAME copies data
    assert rows[1]["related_ip"] == ["10.0.0.9"]
    assert rows[1]["related_hosts"] == ["alias.example.com"]
    assert rows[2].get("dns_answers") is None


def test_two_param_array_closures_and_conditional_del(spark):
    """|index, value| closures on filter/map_each; del under if is
    null-where-guard; positional match_any/parse_regex patterns."""
    prog = r"""
  .evens = filter(.xs) -> |i, v| { mod(i, 2) == 0 }
  .tagged = map_each(.xs) -> |i, v| { to_string(i) + ":" + v }
  if .drop_note == "yes" {
    del(.note)
  }
  .m = match_any(.note2, [r'^a', r'^b'])
  .rx = parse_regex(.note2, r'^(?P<head>\w+) (?P<tail>\w+)$')
"""
    f = compile_vrl(prog)
    df = spark.createDataFrame(
        [(["p", "q", "r"], "yes", "keepme", "b two")],
        "xs array<string>, drop_note string, note string, note2 string",
    )
    r = f(df).collect()[0]
    assert r["evens"] == ["p", "r"]
    assert r["tagged"] == ["0:p", "1:q", "2:r"]
    assert r["note"] is None  # conditional del → null where guard held
    assert r["m"] is True
    assert r["rx"].asDict() == {"head": "b", "tail": "two"}


def test_root_move_spreads_struct(spark):
    """`. = del(.json)` (matano_alerts): spread fields to the top
    level and drop the source column."""
    f = compile_vrl(". = del(.json)\n")
    df = spark.createDataFrame(
        [((1, "x"),)], "json struct<a:long,b:string>"
    )
    out = f(df)
    assert set(out.columns) == {"a", "b"}
    assert out.collect()[0].asDict() == {"a": 1, "b": "x"}


# ref: data/managed/log_sources/suricata/tables/eve.yml:100-205 (the
# event_mappings lookup object probed by a dynamic key)
LOOKUP_OBJECT = """
  event_mappings = {
    "dns": {
      "category": ["network"],
      "network_protocol": "dns"
    },
    "alert": {
      "category": ["intrusion_detection"],
      "severity": "high"
    }
  }
  info = object!(get!(event_mappings, [.event_type]) || {})
  .network.protocol = del(info.network_protocol)
  .categories = info.category
  .sev = info.severity
"""


def test_lookup_object_dynamic_get(spark):
    """get! with a DYNAMIC key over a heterogeneous object literal —
    a CASE chain whose ragged entries become per-arm dynamic objects
    (map<string,variant>), so keys an entry never mentions stay
    ABSENT instead of null-padded (a later `|=` merge must not
    clobber them — suricata event_mappings)."""
    import json as _json
    from pyspark.sql.types import VariantVal

    def dec(v):
        if isinstance(v, VariantVal):
            return dec(_json.loads(v.toJson()))
        if isinstance(v, dict):
            return {k: dec(x) for k, x in v.items()}
        if isinstance(v, list):
            return [dec(x) for x in v]
        return v

    f = compile_vrl(LOOKUP_OBJECT)
    df = spark.createDataFrame(
        [(1, "dns"), (2, "alert"), (3, "flow")], "id long, event_type string"
    )
    rows = {r["id"]: dec(r.asDict(recursive=True)) for r in f(df).collect()}
    assert rows[1]["network"] == {"protocol": "dns"}
    assert rows[1]["categories"] == ["network"]
    assert rows[1]["sev"] is None
    assert rows[2]["sev"] == "high"
    assert rows[2]["categories"] == ["intrusion_detection"]
    assert rows[2]["network"] == {"protocol": None}
    assert rows[3]["categories"] is None  # unmapped key → empty object

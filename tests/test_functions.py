"""Drill function-compat layer (SURVEY §2.9, §2.12).

Every registered compat function is a Spark SQL UDF (Catalyst
expression, JVM-side). Reference implementations:
- kvgen/mappify          expr/fn/impl/Mappify.java:53-66
- repeated_count/contains SimpleRepeatedFunctions.java:45+
- binary_string et al.    StringFunctions.java:1794+
- isdate/age/timeofday    DateTypeFunctions.java
- time_bucket             contrib/udfs TimeBucketFunctions.java
- inet_aton/is_private_ip contrib/udfs NetworkFunctions.java
- punycode_detect/entropy contrib/udfs ThreatHuntingFunctions.java
- ilike/similar/regexp    StringFunctions.java:98-310
"""

from __future__ import annotations

import pytest

from drill_spark import functions as dfn


@pytest.fixture(scope="module", autouse=True)
def _registered(spark):
    registered = dfn.register_all(spark)
    assert set(registered) >= set(dfn._SQL_UDFS)  # + pandas-UDF geometry surface
    return registered


def test_register_all_raises_on_any_failure(spark, monkeypatch):
    """A compat function that cannot register is an error, not a skip:
    the RuntimeError names every failed function."""
    bad = {"drill_bad_one": ("x INT", "no_such_fn(x)"),
           "drill_bad_two": ("x INT", "x +")}
    monkeypatch.setattr(dfn, "_SQL_UDFS", {**dfn._SQL_UDFS, **bad})
    with pytest.raises(RuntimeError, match="2 compat function") as err:
        dfn.register_all(spark)
    assert "drill_bad_one" in str(err.value)
    assert "drill_bad_two" in str(err.value)


def one(spark, expr: str):
    return spark.sql(f"select {expr} as v").head()["v"]


def test_kvgen(spark):
    rows = spark.sql("select kvgen(map('a','1','b','2')) as kv").head()["kv"]
    assert [(r["key"], r["value"]) for r in rows] == [("a", "1"), ("b", "2")]


def test_repeated_fns(spark):
    assert one(spark, "repeated_count(array('x','y','z'))") == 3
    assert one(spark, "repeated_contains(array('x','y'), 'y')") is True
    assert one(spark, "repeated_contains(array('x','y'), 'q')") is False


def test_string_binary_roundtrip(spark):
    assert one(spark, "string_binary(binary_string('drill'))") == "drill"


def test_strpos(spark):
    assert one(spark, "strpos('hello world', 'world')") == 7
    assert one(spark, "strpos('hello', 'zzz')") == 0


def test_isdate(spark):
    assert one(spark, "isdate('2024-01-15')") is True
    assert one(spark, "isdate('not a date')") is False


def test_age_months(spark):
    v = one(spark, "age(timestamp '2024-06-15 00:00:00', timestamp '2023-03-15 00:00:00')")
    assert v == "1 years 3 mons"


def test_time_bucket(spark):
    v = one(spark, "time_bucket(timestamp '2024-01-15 10:47:33', 3600000)")
    assert str(v) == "2024-01-15 10:00:00"
    assert one(spark, "time_bucket_ms(7500, 5000)") == 5000


def test_to_number_builtin(spark):
    # Drill's to_number (MathFunctions.java) maps to the Spark built-in
    v = one(spark, "to_number('$1,234.56', '$9,999.99')")
    assert abs(float(v) - 1234.56) < 1e-9


def test_ilike_similar_regexp(spark):
    assert one(spark, "'HeLLo' ilike 'hello'") is True
    assert one(spark, "similar_to('abcdef', 'abc%')") is True
    assert one(spark, "similar_to('abcdef', 'abc_')") is False
    assert one(spark, "regexp_matches('abc123', '[a-z]+[0-9]+')") is True
    assert one(spark, "regexp_matches('abc123', '[a-z]+')") is False  # full match only


def test_network_fns(spark):
    assert one(spark, "inet_aton('192.168.1.1')") == 3232235777
    assert one(spark, "inet_ntoa(3232235777)") == "192.168.1.1"
    assert one(spark, "is_valid_ip('10.1.2.3')") is True
    assert one(spark, "is_valid_ip('999.1.2.3')") is False
    assert one(spark, "is_private_ip('10.0.0.1')") is True
    assert one(spark, "is_private_ip('172.20.1.1')") is True
    assert one(spark, "is_private_ip('8.8.8.8')") is False


def test_threat_fns(spark):
    assert one(spark, "punycode_detect('xn--e1awd7f.com')") is True
    assert one(spark, "punycode_detect('example.com')") is False
    # 'aaaa' has zero entropy; 'abcd' has 2 bits
    assert abs(one(spark, "entropy('aaaa')")) < 1e-9
    assert abs(one(spark, "entropy('abcd')") - 2.0) < 1e-9


def test_compat_fns_stay_jvm_side(spark):
    """The whole compat layer inlines to Catalyst — no Python eval."""
    from drill_spark import plans

    df = spark.sql(
        "select inet_aton('10.0.0.1') a, entropy('xyz') b, time_bucket(current_timestamp(), 60000) c"
    )
    assert not plans.has_python_eval(df)


def test_builtin_name_parity(spark):
    """Drill names that Spark already provides 1:1 (SURVEY §2.9) — spot
    check they resolve and agree with Drill semantics."""
    for expr, expected in [
        ("split_part('a:b:c', ':', 2)", "b"),
        ("levenshtein('kitten', 'sitting')", 3),
        ("soundex('Robert')", "R163"),
        ("btrim('xxhixx', 'x')", "hi"),
        ("typeof(1.5)", "decimal(2,1)"),
        ("xxhash64('drill')", None),  # exists; value engine-specific
        ("crc32('drill')", None),
    ]:
        v = one(spark, expr)
        if expected is not None:
            assert v == expected, (expr, v)


def test_convert_from_to_codecs(spark):
    """conv/ package parity: typed convert_from/convert_to expansion —
    endianness, signed wrap, UTF8, BOOLEAN_BYTE, JSON->VARIANT."""
    from drill_spark.session import DrillSession

    r = DrillSession(spark=spark).sql(
        "select "
        "convert_from(convert_to(-12345, 'INT_BE'), 'INT_BE') as i_be, "
        "convert_from(convert_to(-12345, 'INT'), 'INT') as i_le, "
        "convert_from(convert_to(-987654321987, 'BIGINT'), 'BIGINT') as b_le, "
        "hex(convert_to(258, 'INT_BE')) as h_be, "
        "hex(convert_to(258, 'INT')) as h_le, "
        "convert_from(convert_to('héllo', 'UTF8'), 'UTF8') as s, "
        "convert_from(convert_to(true, 'BOOLEAN_BYTE'), 'BOOLEAN_BYTE') as bb, "
        "cast(convert_from('{\"a\": [1, 2]}', 'JSON') as string) as j"
    ).head()
    assert r["i_be"] == -12345 and r["i_le"] == -12345 and r["b_le"] == -987654321987
    assert r["h_be"] == "00000102" and r["h_le"] == "02010000"  # byte order differs
    assert r["s"] == "héllo" and r["bb"] is True and r["j"] == '{"a":[1,2]}'


def test_convert_rewrite_leaves_unknown_untouched():
    from drill_spark.functions import rewrite_convert_calls

    q = "select convert_from(x, enc) from t"  # non-literal encoding
    assert rewrite_convert_calls(q) == q
    q2 = "select convert_from(f(a, ','), 'UTF8') from t"  # commas inside call
    assert "cast(f(a, ',') AS STRING)" in rewrite_convert_calls(q2)


def test_parse_user_agent(spark):
    ua_chrome = (
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36"
    )
    ua_edge = ua_chrome + " Edg/120.0.100.0"
    ua_bot = "Mozilla/5.0 (compatible; Googlebot/2.1)"
    ua_iphone = "Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) Version/17.0 Mobile/15E148 Safari/604.1"
    r = spark.sql(
        f"select parse_user_agent('{ua_chrome}') as c, parse_user_agent('{ua_edge}') as e, "
        f"parse_user_agent('{ua_bot}') as b, parse_user_agent('{ua_iphone}') as i"
    ).head()
    assert r["c"]["browser"] == "Chrome" and r["c"]["os"] == "Windows" and not r["c"]["is_mobile"]
    assert r["e"]["browser"] == "Edge"
    assert r["b"]["is_bot"] is True
    assert r["i"]["os"] == "iOS" and r["i"]["is_mobile"] is True and r["i"]["browser"] == "Safari"


def test_gis_core(spark):
    """ST_* core over struct<x,y> points: constructors, WKT roundtrip,
    planar + spherical distance, bbox containment."""
    r = spark.sql(
        "select st_x(st_point(2.0, 3.0)) as x, "
        "st_astext(st_point(2.0, 3.0)) as wkt, "
        "st_x(st_pointfromtext('POINT (-71.064544 42.28787)')) as px, "
        "st_distance(st_point(0.0, 0.0), st_point(3.0, 4.0)) as d, "
        "st_distance_sphere(st_point(2.3522, 48.8566), st_point(-0.1276, 51.5072)) as paris_london_m, "
        "st_dwithin(st_point(0.0, 0.0), st_point(3.0, 4.0), 5.0) as within5, "
        "st_within_box(st_point(1.0, 1.0), 0.0, 0.0, 2.0, 2.0) as inbox"
    ).head()
    assert r["x"] == 2.0 and r["wkt"] == "POINT (2 3)"
    assert abs(r["px"] - (-71.064544)) < 1e-9
    assert abs(r["d"] - 5.0) < 1e-12
    assert abs(r["paris_london_m"] - 343_900) < 3000  # ~344 km great-circle
    assert r["within5"] is True and r["inbox"] is True


def test_gis_polygons(spark):
    """Polygon ST_* over array<struct<x,y>> rings: WKT parse,
    ray-casting containment (convex + concave, boundary-adjacent
    outside points), shoelace area, vertex count."""
    poly = "st_polygonfromtext('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))')"
    r = spark.sql(
        f"select st_npoints({poly}) as n, st_area({poly}) as a, "
        f"st_contains({poly}, st_point(5.0, 5.0)) as inside, "
        f"st_contains({poly}, st_point(15.0, 5.0)) as outside, "
        f"st_contains({poly}, st_point(-0.5, 5.0)) as left_out"
    ).head()
    assert r["n"] == 4 and r["a"] == 100.0
    assert r["inside"] is True and r["outside"] is False and r["left_out"] is False
    # concave L-shape: the notch is OUTSIDE even though its bbox covers it
    ell = "st_polygonfromtext('POLYGON ((0 0, 4 0, 4 2, 2 2, 2 4, 0 4, 0 0))')"
    r2 = spark.sql(
        f"select st_contains({ell}, st_point(3.0, 3.0)) as notch, "
        f"st_contains({ell}, st_point(1.0, 3.0)) as arm, "
        f"st_area({ell}) as a"
    ).head()
    assert r2["notch"] is False and r2["arm"] is True
    assert r2["a"] == 12.0


def test_jaccard_distance(spark):
    r = spark.sql(
        "select jaccard_distance('night', 'nacht') as d1, "
        "jaccard_distance('same', 'same') as d0"
    ).head()
    assert r["d0"] == 0.0 and 0.0 < r["d1"] < 1.0


def test_convert_roundtrip_property(spark):
    """convert_to/convert_from must roundtrip int32/int64 across the
    full range, both endiannesses (hypothesis-driven; one SQL evaluation
    batch keeps it fast)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from drill_spark.functions import rewrite_convert_calls

    cases: list[tuple[int, str]] = []

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(min_value=-(2**31), max_value=2**31 - 1),
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
    )
    def collect(i32, i64):
        cases.append((i32, "INT_BE"))
        cases.append((i32, "INT"))
        cases.append((i64, "BIGINT_BE"))
        cases.append((i64, "BIGINT"))

    collect()
    exprs = ", ".join(
        f"convert_from(convert_to({n}, '{enc}'), '{enc}') as c{i}"
        for i, (n, enc) in enumerate(cases)
    )
    row = spark.sql(rewrite_convert_calls(f"select {exprs}")).head()
    for i, (n, enc) in enumerate(cases):
        assert row[f"c{i}"] == n, f"{enc} roundtrip failed for {n}: {row[f'c{i}']}"


def test_sqltypeof_drill_names(spark):
    from drill_spark.session import DrillSession

    r = DrillSession(spark=spark).sql(
        "select sqltypeof('x') as s, sqltypeof(1) as i, sqltypeof(1.5D) as d, "
        "sqltypeof(cast(1 as bigint)) as b"
    ).head()
    assert r["s"] == "CHARACTER VARYING" and r["i"] == "INTEGER"
    assert r["d"] == "DOUBLE" and r["b"] == "BIGINT"


def test_crypto_and_distribution_fns(session):
    """CryptoFunctions.java / DistributionFunctions.java parity: Drill's
    unary digest names resolve JVM-side; percent_change matches the
    reference's (new-old)/|old|*100 semantics."""
    r = session.sql(
        "select sha('abc') as s1, sha256('abc') as s2, sha512('abc') as s5, "
        "percent_change(8.0, 10.0) as pc, percent_change(0.0, 5.0) as pz, "
        "regr_slope(y, x) as sl from (select 1.0 x, 2.0 y union all select 2.0, 4.0)"
    ).collect()[0]
    assert r.s1 == "a9993e364706816aba3e25717850c26c9cd0d89d"
    assert r.s2 == "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad"
    assert len(r.s5) == 128
    assert r.pc == 25.0 and r.pz is None
    assert r.sl == 2.0


def test_modeof(session):
    """UnionFunctions.java modeOf: ARRAY for repeated values, NULLABLE
    for scalars (Spark expression slots are nullable by construction)."""
    r = session.sql(
        "select modeOf(array(1,2)) as m1, modeOf('x') as m2, modeOf(1 + 1) as m3"
    ).collect()[0]
    assert (r.m1, r.m2, r.m3) == ("ARRAY", "NULLABLE", "NULLABLE")

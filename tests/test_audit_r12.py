"""Round-12 probe wave 5: documented CH spellings (incl. the 24.x/25.x
additions) that previously passed through the translator silently —
now mapped with executed-value pins, or rejected loudly. The probe
list is pinned so the passthrough class stays closed."""

import pytest

from clickhouse_modules_spark.functions.ch_sql import ch_sql, translate
from clickhouse_modules_spark.functions.stats import array_auc_pr


class TestWave5Values:
    def test_subsequence_and_matches(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT hasSubsequence('garbage', 'arg') AS hs, "
            "hasSubsequence('garbage', 'arbw') AS hs0, "
            "hasSubsequenceCaseInsensitive('garbage', 'ARG') AS hci, "
            "hasSubsequenceUTF8('garbage', 'gge') AS hu, "
            "countMatches('aaaa', 'aa') AS cm, "
            "countMatchesCaseInsensitive('AAA aaa', 'aa') AS cmi "
            "FROM (SELECT 1)",
        ).collect()
        # hasSubsequence('garbage', 'arg') = 1 is the CH doc example
        assert r["hs"] is True and r["hs0"] is False
        assert r["hci"] is True and r["hu"] is True
        assert r["cm"] == 2 and r["cmi"] == 2

    def test_string_bytes(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT stringBytesUniq('Hello') AS u, "
            "stringBytesUniq('') AS u0, "
            "stringBytesEntropy('aabb') AS e2, "
            "stringBytesEntropy('Hello') AS eh, "
            "stringBytesEntropy('') AS e0 FROM (SELECT 1)",
        ).collect()
        assert r["u"] == 4 and r["u0"] == 0
        assert r["e2"] == pytest.approx(1.0)
        # H,e,o at 1/5 each, l at 2/5: 3*(.2*log2 5) + .4*log2 2.5
        assert r["eh"] == pytest.approx(1.9219280948873623)
        assert r["e0"] == 0.0

    def test_auc_family(self, spark):
        # both values are the CH documentation's own example arrays
        [r] = ch_sql(
            spark,
            "SELECT arrayROCAUC([0.1, 0.4, 0.35, 0.8], "
            "[0, 0, 1, 1]) AS roc, "
            "arrayPrAUC([0.1, 0.4, 0.35, 0.8], [0, 0, 1, 1]) AS pr, "
            "arrayAUCPR([0.1, 0.4, 0.35, 0.8], [0, 0, 1, 1]) AS pr2 "
            "FROM (SELECT 1)",
        ).collect()
        assert r["roc"] == pytest.approx(0.75)
        assert r["pr"] == pytest.approx(0.8333333333333333)
        assert r["pr2"] == r["pr"]
        # kernel edge: no positives -> NaN
        import math

        assert math.isnan(array_auc_pr([0.3, 0.1], [0, 0]))

    def test_intervals_and_origin(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT toDateTime('2023-01-01 10:00:00') "
            "+ toInterval(2, 'hour') AS t2, "
            "toStartOfInterval(toDateTime('2023-01-01 14:45:00'), "
            "INTERVAL 1 DAY, toDateTime('2023-01-01 06:00:00')) AS o1, "
            "toStartOfInterval(toDateTime('2023-01-02 05:00:00'), "
            "INTERVAL 1 DAY, toDateTime('2023-01-01 06:00:00')) AS o2, "
            "toStartOfInterval(toDateTime('2023-01-02 07:00:00'), "
            "INTERVAL 1 DAY, toDateTime('2023-01-01 06:00:00')) AS o3 "
            "FROM (SELECT 1)",
        ).collect()
        assert str(r["t2"]) == "2023-01-01 12:00:00"
        # origin-aligned day buckets start at 06:00
        assert str(r["o1"]) == "2023-01-01 06:00:00"
        assert str(r["o2"]) == "2023-01-01 06:00:00"
        assert str(r["o3"]) == "2023-01-02 06:00:00"
        with pytest.raises(ValueError, match="unit must be"):
            translate("SELECT toInterval(5, u) FROM t")

    def test_snowflake_id_64(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT dateTime64ToSnowflakeID("
            "toDateTime('2009-01-01 00:00:00')) AS id, "
            "snowflakeIDToDateTime(dateTime64ToSnowflakeID("
            "toDateTime('2009-01-01 00:00:00'))) AS rt "
            "FROM (SELECT 1)",
        ).collect()
        # (epoch-ms of 2009-01-01) << 22, zero custom epoch
        assert r["id"] == 1230768000000 * 4194304
        assert str(r["rt"]) == "2009-01-01 00:00:00"

    def test_median_alias_family(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT medianExactLow(v) AS lo, medianExactHigh(v) AS hi,"
            " medianBFloat16(v) AS bf, medianExactWeighted(v, w) AS mw,"
            " medianTDigestWeighted(v, w) AS tw, medianDD(0.01)(v) AS dd"
            " FROM t",
            views={
                "t": spark.createDataFrame(
                    [(1, 1), (2, 1), (3, 2), (4, 1)], "v int, w int"
                )
            },
        ).collect()
        # QuantileExact.h indexing: Low/High pick sorted[n//2 -1/+0]
        assert (r["lo"], r["hi"]) == (2, 3)
        # BFloat16 is a sketch alias -> percentile_approx (element-
        # returning, no interpolation): the lower median element
        assert r["bf"] == 2
        # weighted: expanded [1,2,3,3,4] -> cumulative-weight median 3
        assert r["mw"] == pytest.approx(3.0)
        # TDigestWeighted -> exact interpolated refinement: percentile
        # over [1,2,3,3,4] = 3
        assert r["tw"] == pytest.approx(3.0)
        assert r["dd"] == 2  # DD -> percentile_approx sketch tier
        with pytest.raises(ValueError, match="relative"):
            translate("SELECT quantileDD(x) FROM t")

    def test_misc_scalars(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT positive_modulo(-3, 5) AS pm, "
            "arrayPartialReverseSort(2, [1, 3, 2]) AS pr, "
            "anyRespectNulls(v) AS ar FROM t",
            views={
                "t": spark.createDataFrame(
                    [([0],)], "z array<int>"
                ).selectExpr("CAST(NULL AS INT) AS v")
            },
        ).collect()
        assert r["pm"] == 2
        assert r["pr"] == [3, 2, 1]
        assert r["ar"] is None  # NULL survives (respect-nulls)
        # snake/camel spellings ride the existing respect-nulls maps
        assert translate("SELECT any_respect_nulls(x) FROM t") == (
            "SELECT first(x) FROM t"
        )
        assert translate("SELECT anyLastRespectNulls(x) FROM t") == (
            "SELECT last(x) FROM t"
        )

    def test_flamegraph_rejects(self):
        with pytest.raises(ValueError, match="engine-internal"):
            translate("SELECT flameGraph(t) FROM x")


PROBES5 = [
    "hasSubsequence(h, n)", "hasSubsequenceCaseInsensitive(h, n)",
    "hasSubsequenceUTF8(h, n)", "hasSubsequenceCaseInsensitiveUTF8(h, n)",
    "countMatchesCaseInsensitive(h, 'p')",
    "stringBytesUniq(s)", "stringBytesEntropy(s)",
    "arrayPartialReverseSort(2, a)", "arrayROCAUC(s, l)",
    "arrayAUCPR(s, l)", "arrayPrAUC(s, l)",
    "toInterval(5, 'hour')",
    "toStartOfInterval(t, INTERVAL 1 DAY, o)",
    "dateTime64ToSnowflakeID(t)", "dateTime64ToSnowflakeID(t, 100)",
    "positive_modulo(a, b)",
    "medianBFloat16(x)", "medianDeterministic(x, d)",
    "medianExactLow(x)", "medianExactHigh(x)",
    "medianExactWeighted(x, w)", "medianTimingWeighted(x, w)",
    "medianTDigestWeighted(x, w)", "medianDD(0.01)(x)",
    "medianGK(100)(x)", "medianInterpolatedWeighted(x, w)",
    "quantileDD(0.01, 0.5)(x)", "quantileDD(0.01)(x)",
    "quantileTDigestWeighted(0.5)(x, w)",
    "quantilesTDigestWeighted(0.25, 0.75)(x, w)",
    "quantileExactWeightedInterpolated(0.5)(x, w)",
    "quantilesExactWeightedInterpolated(0.25, 0.75)(x, w)",
    "anyRespectNulls(x)", "any_respect_nulls(x)",
    "anyLastRespectNulls(x)", "anyLast_respect_nulls(x)",
    "flameGraph(t)",
    # re-probed wave-5 candidates that were ALREADY handled — pinned
    # here so a regression reopens loudly
    "soundex(x)", "toValidUTF8(x)", "countMatches(h, 'p')",
    "arrayShuffle(a)", "arrayPartialSort(2, a)", "arrayAUC(s, l)",
    "monthName(d)", "dateName('year', d)", "timezoneOf(t)",
    "snowflakeIDToDateTime(x)", "dateTimeToSnowflakeID(t)",
    "width_bucket(x, 0, 10, 5)", "widthBucket(x, 0, 10, 5)",
    "intExp2(x)", "intExp10(x)", "factorial(x)",
    "positiveModulo(a, b)", "bitRotateLeft(x, 2)",
    "bitTestAll(x, 1, 2)", "bitHammingDistance(a, b)",
    "medianExact(x)", "medianTDigest(x)", "medianTiming(x)",
    "netloc(u)", "encodeURLComponent(s)", "decodeURLComponent(s)",
    "IPv4ToIPv6(x)", "isIPv4String(s)", "isIPv6String(s)",
    "JSONArrayLength(j)", "toJSONString(x)", "translate(s, 'a', 'b')",
    "tokens(s)", "ngrams(s, 3)", "entropy(x)", "sumCount(x)",
    "skewPop(x)", "kurtSamp(x)", "uniqUpTo(5)(x)",
    "boundingRatio(x, y)", "intervalLengthSum(s, e)",
    "maxIntersections(s, e)", "exponentialMovingAverage(5)(v, t)",
]


def test_no_silent_passthrough_wave5(spark):
    # stronger than the earlier waves' startswith check (which a
    # rename like median*->quantile* can fool): ANY camelCase call
    # surviving in the output is an unresolved CH spelling, since
    # Spark builtins are lowercase/underscore and the Python kernels
    # are __ch_-prefixed
    import re

    camel = re.compile(r"\b([a-z]\w*[A-Z]\w*)\s*\(")
    spark_fns = {f.name.lower() for f in spark.catalog.listFunctions()}
    silent = []
    for expr in PROBES5:
        try:
            out = translate(f"SELECT {expr} FROM t")
        except ValueError:
            continue
        body = out[7: out.rfind(" FROM t")].strip()
        bad = [
            m
            for m in camel.findall(body)
            if m.lower() not in spark_fns
        ]
        if bad:
            silent.append((expr, bad))
    assert silent == [], f"silent passthroughs: {silent}"


def test_camelcase_guard_over_all_prior_waves(spark):
    """The stronger wave-5 check swept back over every earlier wave's
    probe list: no translation may leave an unresolved camelCase call
    in its output (a rename that lands on another CH spelling would
    fool the per-wave startswith checks)."""
    import re

    from tests.test_audit_r10 import PROBES, PROBES2, PROBES3
    from tests.test_audit_r11 import (
        PROBES4, PROBES4B, PROBES4C, PROBES4D, PROBES4E,
    )
    from tests.test_audit_r13 import PROBES6

    camel = re.compile(r"\b([a-z]\w*[A-Z]\w*)\s*\(")
    spark_fns = {f.name.lower() for f in spark.catalog.listFunctions()}
    # the __byteSwapN internal markers resolve in the same pass; the
    # __ch_ kernels are registered udfs — neither is unresolved
    ok = re.compile(r"^(__ch_|__byteSwap)")
    silent = []
    for expr in (PROBES + PROBES2 + PROBES3 + PROBES4 + PROBES4B
                 + PROBES4C + PROBES4D + PROBES4E + PROBES5 + PROBES6):
        try:
            out = translate(f"SELECT {expr} FROM t")
        except ValueError:
            continue
        body = out[7: out.rfind(" FROM t")].strip()
        bad = [
            m
            for m in camel.findall(body)
            if m.lower() not in spark_fns and not ok.match(m)
        ]
        if bad:
            silent.append((expr, bad))
    assert silent == [], f"unresolved camelCase: {silent}"


class TestMedianCombinators:
    def test_median_array_and_ornull(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT medianArray(a) AS ma, medianOrNull(v) AS mo, "
            "medianExactOrNull(v) AS meo FROM t",
            views={
                "t": spark.createDataFrame(
                    [([1, 9], 5), ([3], None)], "a array<int>, v int"
                )
            },
        ).collect()
        # elements 1,3,9 -> exact-selection median = element at
        # floor(0.5*3)+1 = 3
        assert r["ma"] == 3
        assert r["mo"] == 5.0 and r["meo"] == 5.0
        [r0] = ch_sql(
            spark,
            "SELECT medianOrNull(v) AS mo, medianArray(a) AS ma "
            "FROM t WHERE v = 99",
            views={
                "t": spark.createDataFrame(
                    [([1], 5)], "a array<int>, v int"
                )
            },
        ).collect()
        assert r0["mo"] is None and r0["ma"] is None


class TestHilbert:
    def test_encode_decode_roundtrip_and_locality(self, spark):
        from clickhouse_modules_spark.functions.stats import (
            hilbert_d2xy, hilbert_xy2d,
        )

        # kernel == model, exact roundtrip, and the locality property
        # that is the POINT of the curve (adjacent cells differ by 1
        # in d for one-step walks along the curve)
        for x, y in [(0, 0), (3, 4), (12345, 67890), (2**31, 7)]:
            d = hilbert_xy2d(x, y)
            assert hilbert_d2xy(d) == (x, y)
        [r] = ch_sql(
            spark,
            "SELECT hilbertEncode(3, 4) AS e, "
            "hilbertDecode(2, hilbertEncode(3, 4)) AS rt, "
            "hilbertEncode(9) AS ident, "
            "hilbertDecode(1, 7) AS d1 FROM (SELECT 1)",
        ).collect()
        assert r["e"] == hilbert_xy2d(3, 4)
        assert (r["rt"]["col1"], r["rt"]["col2"]) == (3, 4)
        assert r["ident"] == 9 and r["d1"]["col1"] == 7
        # one-step-along-curve neighbors are spatially adjacent
        x0, y0 = hilbert_d2xy(1000)
        x1, y1 = hilbert_d2xy(1001)
        assert abs(x0 - x1) + abs(y0 - y1) == 1
        with pytest.raises(ValueError, match="literal 1 or 2"):
            translate("SELECT hilbertDecode(3, c) FROM t")


class TestWave5Round2:
    """Second mini-sweep: all-lowercase names the camelCase guard
    can't see, the window-TVF helpers, and the typed-dictGet gaps."""

    def test_range_stepped_and_empty(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT range(1, 10, 3) AS a, range(5, 2, 1) AS e, "
            "range(2, 5) AS b FROM (SELECT 1)",
        ).collect()
        assert r["a"] == [1, 4, 7]
        assert r["e"] == []  # CH returns [] where sequence throws
        assert r["b"] == [2, 3, 4]

    def test_tumble_family(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT tumbleStart(toDateTime('2024-03-05 14:47:11'), "
            "INTERVAL 15 MINUTE) AS s, "
            "tumbleEnd(toDateTime('2024-03-05 14:47:11'), "
            "INTERVAL 15 MINUTE) AS e, "
            "tumble(toDateTime('2024-03-05 14:47:11'), "
            "INTERVAL 15 MINUTE).2 AS t2 FROM (SELECT 1)",
        ).collect()
        assert str(r["s"]) == "2024-03-05 14:45:00"
        assert str(r["e"]) == "2024-03-05 15:00:00"
        assert r["t2"] == r["e"]
        # r15: hop is no longer a reject — ungrouped hop() returns the
        # FIRST-window bounds tuple (tests/test_ch_sql.py pins both
        # the grouped sliding-window form and this one)
        out = translate(
            "SELECT hop(t, INTERVAL 1 MINUTE, INTERVAL 1 HOUR) "
            "FROM x"
        )
        assert "col1" in out and "unix_timestamp(t)" in out

    def test_dict_get_ip_types(self, spark):
        from clickhouse_modules_spark.functions import ch_sql as chs

        d = spark.createDataFrame(
            [(1, "10.0.0.1"), (2, "::1")], "k bigint, ip string"
        )
        ctx = chs.QueryContext(frames={"ipd": chs.dictionary(d, "k")})
        [r] = chs.ch_sql(
            spark,
            "SELECT dictGetIPv4('ipd', 'ip', 1) AS v4, "
            "dictGetIPv6('ipd', 'ip', 2) AS v6 FROM (SELECT 1)",
            ctx,
        ).collect()
        assert r["v4"] == "10.0.0.1" and r["v6"] == "::1"

    def test_new_rejects(self):
        for bad, msg in (
            ("regionToName(x)", "geobase"),
            ("regionToCity(x)", "geobase"),
            ("regionIn(a, b)", "geobase"),
            ("partitionID(a)", "server-introspection"),
            ("getServerPort('p')", "server-introspection"),
            ("shardNum()", "server-introspection"),
        ):
            with pytest.raises(ValueError, match=msg):
                translate(f"SELECT {bad} FROM t")


class TestWeightedArrayLevenshtein:
    def test_values_and_similarity(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT arrayLevenshteinDistanceWeighted("
            "['A','B','C'], ['A','K','L'], [1.0, 2.0, 3.0], "
            "[3.0, 4.0, 5.0]) AS d, "
            "arraySimilarity(['A','B','C'], ['A','K','L'], "
            "[1.0, 2.0, 3.0], [3.0, 4.0, 5.0]) AS s, "
            "arraySimilarity([], [], CAST(array() AS array<double>), "
            "CAST(array() AS array<double>)) AS empty "
            "FROM (SELECT 1)",
        ).collect()
        # delete B(2)+C(3), insert K(4)+L(5) -> 14; or substitute
        # B/K (2+4) and C/L (3+5) -> also 14; min = 14
        assert r["d"] == pytest.approx(14.0)
        assert r["s"] == pytest.approx(1.0 - 14.0 / 18.0)
        assert r["empty"] == pytest.approx(1.0)  # identical empties

    def test_equal_arrays_zero_distance(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT arrayLevenshteinDistanceWeighted([1,2], [1,2], "
            "[5.0, 6.0], [7.0, 8.0]) AS d FROM (SELECT 1)",
        ).collect()
        assert r["d"] == 0.0

    def test_new_rejects(self):
        with pytest.raises(ValueError, match="codec"):
            translate("SELECT estimateCompressionRatio(s) FROM t")
        with pytest.raises(ValueError, match="bucket"):
            translate("SELECT icebergHash(x) FROM t")


class TestExponentialTimeDecayed:
    def test_fold_values_vs_model(self, spark):
        import math

        rows = [(0.0, 1.0), (5.0, 2.0), (10.0, 4.0)]
        w = 10.0
        tm = max(t for t, _ in rows)
        terms = [v * math.exp((t - tm) / w) for t, v in rows]
        cnts = [math.exp((t - tm) / w) for t, _ in rows]
        df = spark.createDataFrame(rows, "t double, v double")
        [r] = ch_sql(
            spark,
            "SELECT exponentialTimeDecayedSum(10)(v, t) AS s, "
            "exponentialTimeDecayedMax(10)(v, t) AS m, "
            "exponentialTimeDecayedCount(10)(t) AS c, "
            "exponentialTimeDecayedAvg(10)(v, t) AS a FROM x",
            views={"x": df},
        ).collect()
        assert r["s"] == pytest.approx(sum(terms))
        assert r["m"] == pytest.approx(max(terms))
        assert r["c"] == pytest.approx(sum(cnts))
        assert r["a"] == pytest.approx(sum(terms) / sum(cnts))

    def test_null_skip_and_empty(self, spark):
        df = spark.createDataFrame(
            [(0.0, 1.0), (None, 9.0), (5.0, None)], "t double, v double"
        )
        [r] = ch_sql(
            spark,
            "SELECT exponentialTimeDecayedSum(10)(v, t) AS s, "
            "exponentialTimeDecayedSum(10)(v, t + 100) AS shifted "
            "FROM x",
            views={"x": df},
        ).collect()
        assert r["s"] == pytest.approx(1.0)  # only the (0,1) row
        assert r["shifted"] == pytest.approx(1.0)  # shift-invariant
        [r0] = ch_sql(
            spark,
            "SELECT exponentialTimeDecayedSum(10)(v, t) AS s "
            "FROM x WHERE v = 42",
            views={"x": df},
        ).collect()
        assert r0["s"] is None
        with pytest.raises(ValueError, match="parameterized form"):
            translate("SELECT exponentialTimeDecayedSum(v, t) FROM x")


class TestFinalMiniProbe:
    def test_makedatetime64_and_yyyymmdd64(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT makeDateTime64(2024, 1, 2, 3, 4, 5) AS a, "
            "makeDateTime64(2024, 1, 2, 3, 4, 5, 250) AS b, "
            "makeDateTime64(2024, 1, 2, 3, 4, 5, 25, 2) AS c, "
            "YYYYMMDDhhmmssToDateTime64(20240102030405) AS d "
            "FROM (SELECT 1)",
        ).collect()
        assert str(r["a"]) == "2024-01-02 03:04:05"
        assert str(r["b"]) == "2024-01-02 03:04:05.250000"
        assert str(r["c"]) == "2024-01-02 03:04:05.250000"
        assert str(r["d"]) == "2024-01-02 03:04:05"

    def test_kafka_murmur_intent(self, spark):
        out = translate("SELECT kafkaMurmurHash(s) FROM t")
        assert "xxhash64(s)" in out  # the hash intent policy

    def test_final_rejects(self):
        for bad, msg in (
            ("javaHashUTF16LE(s)", "UTF-16LE"),
            ("JSONRemoveDynamoDBAnnotations(j)", "DynamoDB"),
            ("nested(['a'], x)", "Nested-type"),
            ("seriesDecomposeSTL(a, 3)", "signal-processing"),
            ("seriesOutliersDetectTukey(a)", "signal-processing"),
            ("seriesPeriodDetectFFT(a)", "signal-processing"),
        ):
            with pytest.raises(ValueError, match=msg):
                translate(f"SELECT {bad} FROM t")

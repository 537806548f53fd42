"""Golden tests: scalar text/hash functions vs pandas/DuckDB oracles."""

import math
import re
from collections import Counter

import duckdb
import pytest
from pyspark.sql import functions as F

from certa_spark.functions.hashing import (
    duck_hash32, duck_hash64, hash32, hash64, md5_hash32,
)
from certa_spark.functions.text import bow_cosine, token_diff
from certa_spark.functions import textstats as TS


def py_cosine(t1: str, t2: str) -> float:
    """Reference formula (certa/local_explain.py:221-234), lowercased."""
    w = re.compile(r"\w+")
    v1, v2 = Counter(w.findall(t1.lower())), Counter(w.findall(t2.lower()))
    inter = set(v1) & set(v2)
    num = sum(v1[x] * v2[x] for x in inter)
    den = math.sqrt(sum(v * v for v in v1.values())) * math.sqrt(
        sum(v * v for v in v2.values())
    )
    return float(num) / den if den else 0.0


CASES = [
    ("apple iphone 12 pro", "apple iphone 12 pro max"),
    ("hello world", "completely different text"),
    ("", "something"),
    ("", ""),
    ("a a a b", "a b b b"),
    ("Punct, marks! here?", "punct marks here"),
    ("x x y y y z z", "y y x x x x w z"),
    ("red green blue", "blue Red green yellow"),
]


def test_bow_cosine_matches_pandas(spark):
    """Bit for bit: the term frequencies are integers, so both engines
    sum them exactly and then take the same square roots and quotient."""
    df = spark.createDataFrame(CASES, ["a", "b"])
    got = df.select(bow_cosine(F.col("a"), F.col("b")).alias("s")).collect()
    for (a, b), row in zip(CASES, got):
        assert row["s"] == py_cosine(a, b), (a, b)


def test_bow_cosine_tokenizes_each_side_once(spark):
    """Each side's token array is bound once per row, so the optimized
    plan holds one regex tokenization per side; a literal side folds to
    a constant and leaves one."""
    df = spark.createDataFrame(CASES, ["a", "b"])

    def n_regex(q):
        plan = q._jdf.queryExecution().optimizedPlan().toString()
        return plan.count("regexp_extract_all")

    both = bow_cosine(F.col("a"), F.col("b")).alias("s")
    assert n_regex(df.select(both)) == 2
    probe = df.withColumn("p", F.lit("apple iphone"))
    assert n_regex(probe.select(bow_cosine(F.col("p"), F.col("b")).alias("s"))) == 1


def test_token_diff(spark):
    df = spark.createDataFrame([("x y z", "y")], ["a", "b"])
    row = df.select(token_diff(F.col("a"), F.col("b")).alias("d")).collect()[0]
    assert row["d"] == ["x", "z"]


def test_hash_cross_engine(spark):
    vals = ["abc", "", "hello world", "ünïcode", "123"]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    got = df.select(
        "v",
        hash32(F.col("v")).alias("h32"),
        hash32(F.col("v"), 7).alias("h32s"),
        hash64(F.col("v")).alias("h64"),
    ).collect()
    con = duckdb.connect()
    for row in got:
        v = row["v"].replace("'", "''")
        d32 = con.execute(f"SELECT {duck_hash32(repr(row['v']))}").fetchone()[0]
        d32s = con.execute(f"SELECT {duck_hash32(repr(row['v']), 7)}").fetchone()[0]
        d64 = con.execute(f"SELECT {duck_hash64(repr(row['v']))}").fetchone()[0]
        assert row["h32"] == d32, v
        assert row["h32s"] == d32s, v
        assert row["h64"] == d64, v


def test_md5_hash32_matches_spark(spark):
    """The driver twin equals Spark's ``hash32``, seeded and unseeded,
    on ASCII, non-ASCII, empty and composite pair-id strings."""
    vals = ["abc", "ünïcode 漢字", "", "0@12#1@7", "0@3#1@1000000000017"]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    for row in df.select(
        "v", hash32(F.col("v")).alias("h"), hash32(F.col("v"), 55).alias("hs")
    ).collect():
        assert md5_hash32(row["v"]) == row["h"], row["v"]
        assert md5_hash32(row["v"], 55) == row["hs"], row["v"]


def test_textstats_cross_engine(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "der hund und die katze sind nicht da",
        "le chat est dans la maison pour une nuit",
        "x! y? z.",
        "",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = df.select(
        "text",
        TS.token_count(F.col("text")).alias("tc"),
        TS.lang_id(F.col("text")).alias("lang"),
        TS.quality_score(F.col("text")).alias("q"),
        TS.fingerprint(F.col("text")).alias("fp"),
    ).collect()
    con = duckdb.connect()
    for row in got:
        t = repr(row["text"])
        tc = con.execute(f"SELECT {TS.duck_token_count(t)}").fetchone()[0]
        lg = con.execute(f"SELECT {TS.duck_lang_id(t)}").fetchone()[0]
        q = con.execute(f"SELECT {TS.duck_quality_score(t)}").fetchone()[0]
        fp = con.execute(f"SELECT {TS.duck_fingerprint(t)}").fetchone()[0]
        assert row["tc"] == tc, row["text"]
        assert row["lang"] == lg, row["text"]
        assert abs(row["q"] - q) < 1e-9, row["text"]
        assert row["fp"] == fp, row["text"]


def test_pii_scrub_and_count(spark):
    from certa_spark.functions.scrub import count_pii, scrub_pii

    rows = [
        (1, "mail a.b+c@x-y.co.uk ip 192.168.0.1 tel +12345678 done"),
        (2, "no pii here, just 1.5 and 12. dots"),
        (3, "two mails a@b.io c@d.org"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    out = {
        r["id"]: (r["n"], r["s"])
        for r in df.select(
            "id", count_pii(F.col("t")).alias("n"), scrub_pii(F.col("t")).alias("s")
        ).collect()
    }
    assert out[1] == (3, "mail [PII] ip [PII] tel [PII] done")
    assert out[2] == (0, "no pii here, just 1.5 and 12. dots")
    assert out[3] == (2, "two mails [PII] [PII]")


def _py_dk_number_normalize(entry: str) -> str:
    """Pure-python replica of the reference number path
    (models/ditto/knowledge.py:91-105) with whitespace tokens: like_num
    approximated by float() parseability; tokens float() rejects (word
    numbers, digit-grouped) fall through exactly as the except arm does."""
    out = []
    for tok in entry.split():
        try:
            val = float(tok)
            is_num = tok.replace(",", "").replace("+", "").replace("-", "") != ""
        except ValueError:
            val = None
        grouped = re.fullmatch(r"[+-]?\d{1,3}(,\d{3})+(\.\d+)?", tok)
        if grouped:
            out.append(tok)
        elif val is not None and not (val != val) and abs(val) != float("inf") \
                and re.fullmatch(r"[+-]?(\d+\.?\d*|\.\d+)", tok):
            if val == round(val):
                out.append("%d" % int(val))
            else:
                out.append("%.2f" % val)
        elif len(tok) >= 7 and any(ch.isdigit() for ch in tok):
            out.append("ID " + tok)
        else:
            out.append(tok)
    return " ".join(out)


def test_dk_number_normalize(spark):
    from certa_spark.functions.serialize import dk_number_normalize

    cases = [
        "iphone 12 black 128gb price 099 only 3.50 usd",
        "sn ABC1234XYZ and short a1b2",   # >=7 alnum w/ digit -> ID tag
        "grouped 1,234,567 stays 1,000 put",
        "neg -5 frac -2.25 plus +7 dot .5 trail 6.",
        "weights 12.0 12.00 0.10 100.999",
        "word ten thousand no digits here",
        # exact binary 2-decimal ties (fraction k/8): Python %.2f and
        # DuckDB printf round half-even (0.125 -> 0.12); Spark must
        # agree via bround, not Java's HALF_UP %.2f (-> 0.13). The
        # shortest-repr-tie sliver (e.g. 2.675) is documented
        # divergent in serialize.py and deliberately NOT a fixture.
        "ties 0.125 0.375 0.625 0.875 -0.125 1.625",
        "",
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i long, t string")
    got = {
        r["i"]: r["n"]
        for r in df.select("i", dk_number_normalize(F.col("t")).alias("n")).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == _py_dk_number_normalize(c), c
    # spot-check the three arms explicitly
    assert got[0] == "iphone 12 black 128gb price 99 only 3.50 usd"
    assert got[1] == "sn ID ABC1234XYZ and short a1b2"
    assert got[2] == "grouped 1,234,567 stays 1,000 put"
    assert got[3] == "neg -5 frac -2.25 plus 7 dot 0.50 trail 6"
    assert got[6] == "ties 0.12 0.38 0.62 0.88 -0.12 1.62"


def test_media_features_fake_codec_matches_python(spark):
    """extract_features' md5-chain fake codec: Spark mapInPandas output
    == hashlib reimplementation (and hence the DuckDB oracle)."""
    import hashlib

    from certa_spark.operators.multimodal import extract_features, make_fake_media

    media = make_fake_media(spark, n=6, kind="image")
    rows = {r["media_id"]: r["features"] for r in extract_features(media, dim=20).collect()}
    for i in range(6):
        blob = hashlib.md5(f"image:{i}".encode()).digest() * 8
        out, seed = [], blob[:16]
        while len(out) < 20:
            seed = hashlib.md5(seed).digest()
            out.extend(b / 255.0 for b in seed)
        exp = out[:20]
        got = rows[i]
        assert len(got) == 20
        for a, b in zip(got, exp):
            assert abs(a - b) < 1e-6


def _py_dk_ner_tag(entry: str) -> str:
    """Pure-python replica of ProductDKInjector.transform
    (knowledge.py:60-104) with whitespace tokens and the deterministic
    recognizer standing in for spaCy ents: PRODUCT = maximal runs of
    vocab tokens (marker at run start, as one multi-token ent);
    NUM = money/percent/date shaped tokens. Start markers only — the
    reference populates end_indices but never emits them."""
    from certa_spark.functions.serialize import (
        _DEFAULT_PRODUCT_VOCAB,
        _DK_DATE_RE,
        _DK_MONEY_RE,
        _DK_PERCENT_RE,
    )

    vocab = {v.lower() for v in _DEFAULT_PRODUCT_VOCAB}
    toks = entry.split()
    out = []
    for i, tok in enumerate(toks):
        is_prod = tok.lower() in vocab
        prev_prod = i > 0 and toks[i - 1].lower() in vocab
        if is_prod and not prev_prod:
            out.append("PRODUCT")
        elif any(
            re.fullmatch(p.strip("^$"), tok)
            for p in (_DK_MONEY_RE, _DK_PERCENT_RE, _DK_DATE_RE)
        ):
            out.append("NUM")
        out.append(_py_dk_number_normalize(tok))
    return " ".join(out)


def test_dk_ner_tag(spark):
    from certa_spark.functions.serialize import dk_ner_tag, ner_normalize

    cases = [
        "STANDARD ANODIZED TIN widget",          # run at pos 0, one marker
        "shiny promo burnished copper promo",     # mid-run + restart
        "price $12.99 on 2024-01-31 save 15%",    # money, date, percent
        "due 1/2/24 was $1,299.00 sn1234567",     # date variants + ID arm
        "plain 42 and 3.50 tokens",               # numbers norm, no ents
        "",
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i long, t string"
    )
    got = {
        r["i"]: r["n"]
        for r in df.select("i", dk_ner_tag(F.col("t")).alias("n")).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == _py_dk_ner_tag(c), c
    assert got[0] == "PRODUCT STANDARD ANODIZED TIN widget"
    assert got[1] == "shiny PRODUCT promo burnished copper PRODUCT promo"
    assert got[2] == "price NUM $12.99 on NUM ID 2024-01-31 save NUM 15%"
    # ner=True routes through the tagger; ner=False number-only
    tagged = ner_normalize(df, ["t"], ner=True).collect()
    assert {r["i"]: r["t"] for r in tagged}[0] == got[0]


def test_normalize_url_canonicalizes_variants(spark):
    from certa_spark.functions.url import normalize_url

    cases = [
        # scheme / www / trailing slash / fragment variants of one page
        (1, "https://www.Example.com/a/b/"),
        (2, "http://example.com/a/b#section"),
        # tracking params dropped, survivors sorted
        (3, "https://example.com/a/b?utm_source=x&z=1&a=2&fbclid=abc"),
        (4, "https://example.com/a/b?a=2&z=1"),
        # bare host
        (5, "https://www.example.com"),
        (6, "not a url"),
    ]
    df = spark.createDataFrame(cases, "i long, u string")
    got = {
        r["i"]: r["n"]
        for r in df.select("i", normalize_url(F.col("u")).alias("n")).collect()
    }
    assert got[1] == got[2] == "example.com/a/b"
    assert got[3] == got[4] == "example.com/a/b?a=2&z=1"
    assert got[5] == "example.com/"
    assert got[6] is None


def test_normalize_url_keeps_non_default_port(spark):
    """host:8080/x and host/x are different pages — only the scheme's
    DEFAULT port collapses (r4 ADVICE: parse_url HOST drops all ports)."""
    from certa_spark.functions.url import normalize_url

    cases = [
        (1, "http://example.com:8080/x"),
        (2, "http://example.com/x"),
        (3, "http://example.com:80/x"),
        (4, "https://example.com:443/x"),
        (5, "https://example.com:8443/x"),
    ]
    df = spark.createDataFrame(cases, "i long, u string")
    got = {
        r["i"]: r["n"]
        for r in df.select("i", normalize_url(F.col("u")).alias("n")).collect()
    }
    assert got[1] == "example.com:8080/x"
    assert got[2] == got[3] == got[4] == "example.com/x"
    assert got[5] == "example.com:8443/x"


def test_registrable_domain(spark):
    from certa_spark.functions.url import registrable_domain

    cases = [
        (1, "https://news.bbc.co.uk/article"),
        (2, "https://a.b.example.com/x"),
        (3, "http://example.com"),
        (4, "https://localhost/x"),
    ]
    df = spark.createDataFrame(cases, "i long, u string")
    got = {
        r["i"]: r["d"]
        for r in df.select("i", registrable_domain(F.col("u")).alias("d")).collect()
    }
    assert got[1] == "bbc.co.uk"
    assert got[2] == "example.com"
    assert got[3] == "example.com"
    assert got[4] == "localhost"


def test_registrable_domain_psl(spark):
    """PSL algorithm over the vendored snapshot: longest rule wins,
    wildcard rules cover one extra label, exceptions override
    wildcards, a bare public suffix has no registrable domain."""
    from certa_spark.functions.url import registrable_domain_psl

    cases = [
        (1, "https://news.bbc.co.uk/article"),     # 2-label rule
        (2, "https://a.b.example.com/x"),          # 1-label rule
        (3, "http://www.example.com.au/x"),        # 2-label ccTLD rule
        (4, "https://foo.bar.ck/x"),               # *.ck wildcard
        (5, "http://www.ck/"),                     # !www.ck exception
        (6, "https://sub.city.kawasaki.jp/x"),     # !city.kawasaki.jp
        (7, "https://pref.kawasaki.jp/x"),         # IS a public suffix
        (8, "https://x.pref.kawasaki.jp/x"),       # one under wildcard
        (9, "https://co.uk/"),                     # bare public suffix
        (10, "https://localhost/x"),               # unlisted, 1 label
        (11, "http://shop.example.co.jp:8080/x"),  # explicit port
        (12, "not a url"),                         # unparseable
    ]
    df = spark.createDataFrame(cases, "i long, u string")
    out = registrable_domain_psl(df, "u", out_col="d")
    got = {r["i"]: r["d"] for r in out.collect()}
    assert got[1] == "bbc.co.uk"
    assert got[2] == "example.com"
    assert got[3] == "example.com.au"
    # per the official PSL test vectors (a.b.test.ck -> b.test.ck):
    # *.ck makes bar.ck the public suffix, so foo.bar.ck registers
    assert got[4] == "foo.bar.ck"
    assert got[5] == "www.ck"
    assert got[6] == "city.kawasaki.jp"
    assert got[7] is None
    assert got[8] == "x.pref.kawasaki.jp"
    assert got[9] is None
    assert got[10] is None
    assert got[11] == "example.co.jp"
    assert got[12] is None
    # schema hygiene: no _psl_ scratch columns leak
    assert [c for c in out.columns if c.startswith("_psl_")] == []


def test_registrable_domain_psl_plan_is_broadcast_only(spark):
    """The PSL lookup must plan as broadcast hash joins with NO
    shuffle exchange — the whole point of the chained-join shape."""
    from certa_spark.functions.url import registrable_domain_psl

    df = spark.createDataFrame(
        [(1, "https://a.example.co.uk/x")], "i long, u string"
    )
    plan = (
        registrable_domain_psl(df, "u", out_col="d")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_registrable_domain_psl_deep_rules(spark):
    """The join depth must follow the LOADED rules (r6 fix,
    url.py:_psl_depth): a production-class PSL with a 5-label plain
    rule and a wildcard whose base is above the vendored snapshot's
    max depth must both actually match — under the old fixed
    _PSL_MAX_LABELS=4 scheme the 5-label rule was silently invisible
    and hosts under it mis-registered at the com.cn level."""
    from certa_spark.functions.url import registrable_domain_psl

    # keyed form, as load_psl_rules produces: wildcard rules keyed by
    # their BASE (the `*.alpha...` rule lands on the 4-label base row)
    psl = spark.createDataFrame(
        [
            ("cn", True, False, False),
            ("com.cn", True, False, False),
            # the production-PSL class the fix exists for (5 labels)
            ("s3.cn-north-1.amazonaws.com.cn", True, False, False),
            ("dev", True, False, False),
            ("gamma.dev", True, False, False),
            ("beta.gamma.dev", True, False, False),
            # plain rule AND `*.` wildcard on the same 4-label base
            ("alpha.beta.gamma.dev", True, True, False),
        ],
        "suffix string, is_rule boolean, is_wildcard boolean, "
        "is_exception boolean",
    )
    cases = [
        # bucket.s3.cn-north-1.amazonaws.com.cn: the 5-label rule is
        # the public suffix, so the 6-label host registers
        (1, "https://bucket.s3.cn-north-1.amazonaws.com.cn/key"),
        # bare 5-label public suffix -> no registrable domain
        (2, "https://s3.cn-north-1.amazonaws.com.cn/"),
        # other amazonaws subdomains fall back to the com.cn rule
        (3, "https://ec2.cn-north-1.amazonaws.com.cn/x"),
        # wildcard one label under a 4-label base: x.alpha.beta.gamma.dev
        # is a public suffix, so y.x.alpha... registers
        (4, "https://y.x.alpha.beta.gamma.dev/"),
        (5, "https://x.alpha.beta.gamma.dev/"),  # IS a public suffix
    ]
    df = spark.createDataFrame(cases, "i long, u string")
    out = registrable_domain_psl(df, "u", out_col="d", psl=psl)
    got = {r["i"]: r["d"] for r in out.collect()}
    assert got[1] == "bucket.s3.cn-north-1.amazonaws.com.cn"
    assert got[2] is None
    assert got[3] == "amazonaws.com.cn"
    assert got[4] == "y.x.alpha.beta.gamma.dev"
    assert got[5] is None


def test_registrable_domain_psl_null_suffix_rows(spark):
    """A user-supplied psl table containing null/empty suffix rows
    must not crash plan-building (ADVICE r6: _psl_depth dereferenced
    suffix.count without a guard) — such rows carry no matchable key
    and are simply inert."""
    from certa_spark.functions.url import registrable_domain_psl

    psl = spark.createDataFrame(
        [
            ("com", True, False, False),
            (None, True, False, False),
            ("", True, False, False),
        ],
        "suffix string, is_rule boolean, is_wildcard boolean, "
        "is_exception boolean",
    )
    df = spark.createDataFrame(
        [(1, "https://a.example.com/x")], "i long, u string"
    )
    out = registrable_domain_psl(df, "u", out_col="d", psl=psl)
    assert out.collect()[0]["d"] == "example.com"

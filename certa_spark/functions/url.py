"""URL canonicalization for web-crawl curation — pure Column exprs.

Web-scale pipelines (CCNet, RefinedWeb) dedup first by CANONICAL URL
before any content hashing: the same page is crawled under scheme /
case / tracking-parameter / fragment variants, and collapsing those is
a map-side string rewrite, a thousand times cheaper than MinHash on
the bodies. Everything here is built from ``try_parse_url`` + array HOFs,
so it runs in whole-stage codegen with zero shuffles and composes with
the exact-dedup hash aggregate (``operators/dedup.exact_dedup``) and
the per-domain caps in ``operators/sampling``.

Reference parity note: tteofili/certa has no URL operators — this is
training-data-pipeline extension surface, green-field.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from certa_spark.io import local_frame

# query parameters that identify a CLICK, not a page: the standard
# strip-list of web dedup pipelines
_TRACKING_RE = (
    r"^(utm_[a-z]+|fbclid|gclid|dclid|msclkid|mc_cid|mc_eid|ref|ref_src"
    r"|igshid|si|spm|yclid|_ga|s_kwcid)="
)


def _host(col: Column) -> Column:
    h = F.lower(F.try_parse_url(col, F.lit("HOST")))
    return F.regexp_replace(h, r"^www\.", "")


def normalize_url(col: Column) -> Column:
    """Canonical form of a URL: lowercase host without ``www.``,
    default-port (http:80 / https:443) and fragment dropped — a
    NON-default explicit port is kept (``host:8080/x`` and ``host/x``
    are different pages), path with its trailing slash trimmed (bare
    host renders as ``/``), tracking parameters removed and the
    surviving query parameters SORTED (param order is not page
    identity). Scheme is dropped entirely — http/https variants of one
    page are one page. Null-safe: unparseable input yields null, so a
    downstream dedup never groups garbage together."""
    host = _host(col)
    # parse_url HOST excludes the port — recover it from AUTHORITY and
    # keep it unless it is the scheme's default
    auth = F.try_parse_url(col, F.lit("AUTHORITY"))
    port = F.regexp_extract(F.coalesce(auth, F.lit("")), r":(\d+)$", 1)
    proto = F.lower(F.try_parse_url(col, F.lit("PROTOCOL")))
    is_default = ((proto == "http") & (port == "80")) | (
        (proto == "https") & (port == "443")
    )
    host = F.when(
        (port != "") & ~is_default, F.concat(host, F.lit(":"), port)
    ).otherwise(host)
    path = F.coalesce(F.try_parse_url(col, F.lit("PATH")), F.lit(""))
    path = F.regexp_replace(path, r"/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.try_parse_url(col, F.lit("QUERY"))
    kept = F.array_sort(
        F.filter(
            F.split(F.coalesce(query, F.lit("")), "&"),
            lambda p: (p != "") & ~p.rlike(_TRACKING_RE),
        )
    )
    qstr = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    return F.when(
        host.isNotNull(), F.concat(host, path, qstr)
    )


# two-level public suffixes common enough to matter for grouping; a
# full public-suffix list is a data file a production deploy would
# broadcast-join instead (documented seam, same expression shape)
_TWO_LEVEL_TLDS = (
    "co.uk", "ac.uk", "gov.uk", "org.uk", "co.jp", "ne.jp", "or.jp",
    "com.au", "net.au", "org.au", "com.br", "com.cn", "com.mx",
    "co.in", "co.kr", "com.ar", "com.tr", "co.za", "com.sg",
)


def registrable_domain(col: Column) -> Column:
    """The registrable domain of a URL (``news.bbc.co.uk`` ->
    ``bbc.co.uk``, ``a.b.example.com`` -> ``example.com``) — the
    grouping key for per-domain crawl caps and domain-level quality
    priors. Last two host labels, or three when the last two form a
    known two-level public suffix."""
    host = _host(col)
    parts = F.split(host, r"\.")
    n = F.size(parts)
    # try_element_at: single-label hosts (localhost) have no -2 index
    # and must not throw under ANSI mode
    last2 = F.concat_ws(
        ".",
        F.try_element_at(parts, F.lit(-2)),
        F.try_element_at(parts, F.lit(-1)),
    )
    is2l = last2.isin(*_TWO_LEVEL_TLDS)
    take = F.when(is2l & (n >= 3), F.lit(3)).otherwise(
        F.least(n, F.lit(2))
    )
    return F.when(
        host.isNotNull(),
        F.array_join(F.slice(parts, n - take + 1, take), "."),
    )


# ---------------------------------------------------------------- PSL

_PSL_PATH = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.dirname(
        __import__("os").path.abspath(__file__))),
    "data", "public_suffix_snapshot.dat",
)

def _psl_depth(rules: list[tuple[str, bool, bool, bool]]) -> int:
    """Join depth needed to match every rule in ``rules``: the max
    label count over all suffix KEYS. Wildcard rules (``*.base``) are
    keyed by their base and matched at base depth — the extra covered
    label comes from the ``_psl_parts`` slice at decision time, not
    from a deeper join — so no +1 is needed for them. The production
    public suffix list has 5+-label rules (e.g.
    ``s3.cn-north-1.amazonaws.com.cn``), so the depth must follow the
    LOADED rules, not the vendored snapshot's."""
    depth = 1
    for suffix, _r, _is_wc, _e in rules:
        depth = max(depth, suffix.count(".") + 1)
    return depth


def load_psl_rules(path: str = _PSL_PATH) -> list[tuple[str, bool, bool, bool]]:
    """Parse a PSL-format file into ``(suffix, is_rule, is_wildcard,
    is_exception)`` tuples, one per distinct suffix string. Wildcard
    rules (``*.base``) are keyed by their BASE, exceptions (``!name``)
    by their name — the join in :func:`registrable_domain_psl` matches
    host suffix strings against these keys directly."""
    rules: dict[str, list[bool]] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith("//"):
                continue
            if line.startswith("!"):
                key, slot = line[1:], 2
            elif line.startswith("*."):
                key, slot = line[2:], 1
            else:
                key, slot = line, 0
            flags = rules.setdefault(key.lower(), [False, False, False])
            flags[slot] = True
    return [
        (k, f[0], f[1], f[2]) for k, f in sorted(rules.items())
    ]


def psl_table(spark, path: str = _PSL_PATH):
    """The vendored PSL snapshot as a DataFrame dimension —
    ``(suffix, is_rule, is_wildcard, is_exception)``. Small by nature
    (the FULL public list is ~10k rows, well under any broadcast
    threshold); pass a production list file to swap the snapshot."""
    return local_frame(
        spark,
        load_psl_rules(path),
        "suffix string, is_rule boolean, is_wildcard boolean, "
        "is_exception boolean",
    )


def registrable_domain_psl(
    df,
    url_col: str,
    out_col: str = "registrable_domain",
    psl=None,
):
    """Public-Suffix-List registrable domain as a broadcast-join plan
    — the production replacement for the :func:`registrable_domain`
    two-level heuristic. Implements the PSL algorithm exactly:
    longest matching rule wins, ``*.base`` wildcard rules match one
    extra label, ``!name`` exception rules override wildcards (so
    ``www.ck`` -> ``www.ck`` while ``anything.else.ck`` ->
    ``else.ck``), no-match defaults to a 1-label public suffix. A host
    that IS a public suffix yields null.

    Scale shape: the host's last-1..last-4 label suffix strings are
    computed with zero-shuffle HOFs, then each depth is matched with
    an explicitly ``broadcast()`` left join against the (tiny) PSL
    dimension — four broadcast hash joins, NO exchange, no explode/
    regroup round-trip; the decision CASE runs in whole-stage codegen.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    spark = df.sparkSession
    dim = psl if psl is not None else psl_table(spark)
    # join depth follows the LOADED rules (the production PSL has
    # 5+-label rules the vendored snapshot doesn't); the dim is a tiny
    # broadcast dimension, so this plan-build-time collect is free
    # null/empty suffix rows carry no matchable key (an equality join
    # never matches null) — skip them here rather than crash at
    # plan-build time on a malformed user-supplied psl table
    depth = _psl_depth(
        [
            (r["suffix"], False, bool(r["is_wildcard"]), False)
            for r in dim.select("suffix", "is_wildcard")
            .filter(F.col("suffix").isNotNull() & (F.col("suffix") != ""))
            .collect()
        ]
    )

    # raw lowercased host — NOT the www.-stripped _host: `www.` is an
    # ordinary label to the PSL algorithm (the registrable domain of
    # http://www.ck/ is literally `www.ck`, via the !www.ck exception)
    host = F.lower(F.try_parse_url(F.col(url_col), F.lit("HOST")))
    # strip an explicit port for suffix matching
    host = F.regexp_replace(host, r":\d+$", "")
    parts = F.split(host, r"\.")
    n = F.size(parts)

    out = df.withColumn("_psl_parts", parts).withColumn("_psl_n", n)
    for d in range(1, depth + 1):
        cand = F.when(
            F.col("_psl_n") >= d,
            F.array_join(
                F.slice(F.col("_psl_parts"), F.col("_psl_n") - d + 1, d),
                ".",
            ),
        )
        out = out.withColumn(f"_psl_s{d}", cand)
        dd = broadcast(
            dim.select(
                F.col("suffix").alias(f"_psl_k{d}"),
                F.col("is_rule").alias(f"_psl_r{d}"),
                F.col("is_wildcard").alias(f"_psl_w{d}"),
                F.col("is_exception").alias(f"_psl_e{d}"),
            )
        )
        out = out.join(
            dd, out[f"_psl_s{d}"] == dd[f"_psl_k{d}"], "left"
        ).drop(f"_psl_k{d}")

    # exception rules win outright: registrable domain = the exception
    # name itself (public suffix is one label shorter)
    exc = F.lit(None).cast("string")
    for d in range(depth, 0, -1):
        exc = F.when(
            F.coalesce(F.col(f"_psl_e{d}"), F.lit(False)),
            F.col(f"_psl_s{d}"),
        ).otherwise(exc)

    # otherwise: public-suffix length = max over matches (wildcard at
    # depth d covers d+1 labels), default 1
    ps_len = F.lit(1)
    for d in range(1, depth + 1):
        ps_len = F.when(
            F.coalesce(F.col(f"_psl_r{d}"), F.lit(False))
            & (ps_len < d),
            F.lit(d),
        ).otherwise(ps_len)
        ps_len = F.when(
            F.coalesce(F.col(f"_psl_w{d}"), F.lit(False))
            & (ps_len < d + 1)
            # wildcard needs an actual label under the base to match
            & (F.col("_psl_n") > d),
            F.lit(d + 1),
        ).otherwise(ps_len)

    reg_len = ps_len + 1
    reg = F.when(
        exc.isNotNull(), exc
    ).when(
        F.col("_psl_n") >= reg_len,
        F.array_join(
            F.slice(
                F.col("_psl_parts"), F.col("_psl_n") - reg_len + 1, reg_len
            ),
            ".",
        ),
    )
    out = out.withColumn(out_col, reg)
    drop = ["_psl_parts", "_psl_n"] + [
        f"_psl_{p}{d}"
        for d in range(1, depth + 1)
        for p in ("s", "r", "w", "e")
    ]
    return out.drop(*drop)

"""URL canonicalization for web-corpus ingest: the normalize-before-dedup
step every crawl pipeline runs between fetch and URL-level dedup (CC-Net
keeps one document per canonical URL before any content dedup — it is
the cheapest dedup signal in the stack, pure string work, no shuffle).

Every rule is Spark SQL text. A public builder takes its inputs as SQL
expressions (a column name is the usual case) and returns ONE
``F.expr`` over the composed text, so the driver hands the JVM one
string per call instead of building the tree node by node over py4j
(the resolver is ~2,300 py4j calls as a Column tree, one parse as
text). Catalyst lowers the text to the same regexp/array/higher-order
expressions — whole-stage codegen, linear per URL, fused into whatever
stage produces the URLs. Patterns are Spark raw literals (``r'...'``)
so their backslashes reach the regex engine verbatim. The DuckDB oracle
mirror lives beside the gated query (queries/web.py) with the identical
step list; keep the two in sync rule-for-rule.

Canonical form (each rule is a deliberate, documented identity choice):
- fragment dropped (never sent to the server);
- scheme and host lowercased (case-insensitive by RFC 3986);
- the scheme's OWN default port dropped (``:80`` for http, ``:443``
  for https — and only then: ``http://host:443/x`` is a DIFFERENT
  resource from ``http://host/x`` and keeps its port); leading
  ``www.`` dropped
  (an aliasing choice, standard in URL dedup — two hosts that differ
  only by ``www.`` are almost always one site);
- empty path becomes ``/``; trailing slashes trimmed off non-root paths;
- percent-encoding normalized in path and query params (RFC 3986
  §6.2.2: unreserved octets decoded, remaining escapes' hex
  uppercased — see ``pct_normalize``);
- tracking params (``utm_*``, ``fbclid``) removed — after
  percent-normalization, so a ``%75tm_``-disguised name still drops —
  remaining params sorted (param order is non-semantic for idempotent
  GETs), empty query dropped.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_AUTH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"


def _no_fragment(url: str) -> str:
    return f"regexp_replace({url}, r'#.*$', '')"


def _scheme(url: str) -> str:
    return f"lower(regexp_extract({_no_fragment(url)}, r'{_SCHEME_RE}', 1))"


def url_scheme(url: str) -> Column:
    return F.expr(_scheme(url))


def _host(url: str) -> str:
    auth = f"lower(regexp_extract({_no_fragment(url)}, r'{_AUTH_RE}', 1))"
    scheme = _scheme(url)
    return (f"regexp_replace(CASE "
            f"WHEN {scheme} = 'http' THEN regexp_replace({auth}, r':80$', '') "
            f"WHEN {scheme} = 'https' "
            f"THEN regexp_replace({auth}, r':443$', '') "
            f"ELSE {auth} END, r'^www\\.', '')")


def url_host(url: str) -> Column:
    """Lowercased host with the scheme's DEFAULT port and leading
    ``www.`` stripped. Port stripping is scheme-aware: only http+``:80``
    and https+``:443`` are identity-preserving removals — stripping
    ``:443`` from an http URL would merge distinct resources (the
    DuckDB oracle CTE in queries/web.py mirrors this rule in
    lockstep)."""
    return F.expr(_host(url))


# RFC 3986 §2.3 unreserved octets as UPPERCASE hex pairs: ALPHA
# (41-5A, 61-7A), DIGIT (30-39), '-' 2D, '.' 2E, '_' 5F, '~' 7E.
# Enumerated as a hex-pair regex so the decode branch is provably
# ASCII-safe in BOTH engines (no charset decode of arbitrary bytes —
# DuckDB's decode() errors on invalid UTF-8, Spark's substitutes;
# gating on the pair sidesteps the divergence entirely).
_UNRESERVED_HEX_RE = r"^(4[1-9A-F]|5[0-9A]|5F|6[1-9A-F]|7[0-9A]|7E|3[0-9]|2[DE])$"


def _pct(s: str) -> str:
    # lambda var 'pct_x': callers nest this inside their own lambdas
    # (the query-param transform binds 'qp')
    hexd = "upper(substring(pct_x, 1, 2))"
    rest = "substring(pct_x, 3, 2147483647)"
    piece = (f"CASE WHEN NOT rlike({hexd}, r'^[0-9A-F]{{2}}$') "
             f"THEN concat('%', pct_x) "
             f"WHEN rlike({hexd}, r'{_UNRESERVED_HEX_RE}') "
             f"THEN concat(decode(unhex({hexd}), 'UTF-8'), {rest}) "
             f"ELSE concat('%', {hexd}, {rest}) END")
    parts = f"split({s}, '%')"
    tail = f"slice({parts}, 2, greatest(size({parts}) - 1, 0))"
    normalized = (f"concat(element_at({parts}, 1), array_join("
                  f"transform({tail}, pct_x -> {piece}), ''))")
    return f"CASE WHEN contains({s}, '%') THEN {normalized} ELSE {s} END"


def pct_normalize(s: str) -> Column:
    """RFC 3986 §6.2.2 percent-encoding normalization over one URL
    component: §6.2.2.2 decodes percent-encodings of UNRESERVED
    characters (``%69`` -> ``i``, two URLs differing only there are the
    same resource), §6.2.2.1 uppercases the hex digits of every other
    encoding (``%2f`` -> ``%2F``; reserved octets stay encoded — a
    decoded ``/`` or ``&`` would CHANGE the component structure).
    Malformed escapes (``%`` not followed by two hex digits) pass
    through verbatim. Gated on ``%`` presence: clean components (the
    overwhelming majority) pass through byte-identical with one
    ``contains`` check. Split on ``%``, one higher-order transform over
    the tail pieces. DuckDB mirror: queries/web.py::_sql_pct — keep
    rule-for-rule in sync."""
    return F.expr(_pct(s))


def _path(url: str) -> str:
    p = f"regexp_extract({_no_fragment(url)}, r'{_PATH_RE}', 1)"
    p = f"CASE WHEN {p} = '' THEN '/' ELSE {p} END"
    return _pct(f"regexp_replace({p}, r'^(.+?)/+$', '$1')")


def url_path(url: str) -> Column:
    return F.expr(_path(url))


def _query(url: str) -> str:
    q = f"regexp_extract({_no_fragment(url)}, r'\\?([^#]*)', 1)"
    keep = ("qp <> '' AND NOT startswith(split_part(qp, '=', 1), 'utm_') "
            "AND split_part(qp, '=', 1) <> 'fbclid'")
    return (f"array_join(array_sort(filter(transform(split({q}, '&'), "
            f"qp -> {_pct('qp')}), qp -> {keep})), '&')")


def url_query_canonical(url: str) -> Column:
    """Query string with each param percent-normalized (RFC 3986
    §6.2.2 — see ``pct_normalize``), tracking params removed, and the
    rest sorted. Normalization runs FIRST: a percent-disguised
    ``%75tm_source`` is still a tracking param, and the sort is
    canonical over the decoded forms. Tracking match is on the param
    NAME (the token before ``=``), so ``fbclid=abc`` drops and a
    legitimate ``id=fbclid`` survives."""
    return F.expr(_query(url))


def canonicalize_url(url: str) -> Column:
    """Full canonical URL (see module docstring for the rule list)."""
    qs = _query(url)
    return F.expr(
        f"concat({_scheme(url)}, '://', {_host(url)}, {_path(url)}, "
        f"CASE WHEN {qs} = '' THEN '' ELSE concat('?', {qs}) END)")


# Paths needing §5.2.4 work: a '.'/'..' segment anywhere, or an empty
# segment ('//'). Everything else passes through verbatim — the fold is
# the expensive part of reference resolution (an interpreted HOF over
# every segment), and on real link corpora the overwhelming majority of
# hrefs contain no dot segments (measured: gating it cut the sf10 link
# extraction by ~2x). Mirrored verbatim in the DuckDB CTE.
_DOTSEG_RE = r"(^|/)\.\.?(/|$)|//"


def _collapse(path: str) -> str:
    folded = (f"aggregate(split({path}, '/'), '', (acc, seg) -> "
              "CASE WHEN seg = '' OR seg = '.' THEN acc "
              "WHEN seg = '..' THEN regexp_replace(acc, '/[^/]*$', '') "
              "ELSE concat(acc, '/', seg) END)")
    collapsed = f"CASE WHEN {folded} = '' THEN '/' ELSE {folded} END"
    return (f"CASE WHEN rlike({path}, r'{_DOTSEG_RE}') THEN {collapsed} "
            f"ELSE {path} END")


def collapse_dot_segments(path: str) -> Column:
    """RFC 3986 §5.2.4 remove_dot_segments over an absolute path —
    applied only when a dot/empty segment is present (_DOTSEG_RE;
    clean paths pass through byte-identical, trailing slash and all).
    The collapse itself is a single ``aggregate`` (left fold) over the
    ``/``-split segments with a STRING accumulator: ``.`` and empty
    segments are no-ops, ``..`` pops the last appended segment (a
    ``..`` at root stays at root, per spec), anything else appends.
    Deliberate normalizations when the fold DOES run (both identical
    to what ``canonicalize_url`` does next): empty segments collapse
    (``a//b`` -> ``/a/b``) and a trailing ``/.``/``/..`` loses its
    directory-form trailing slash. The DuckDB oracle mirror
    (queries/web.py _LINK_EDGES_CTES) is the same gate + fold via
    list_reduce — keep the two in sync."""
    return F.expr(_collapse(path))


def resolve_href(href: str, base_scheme: str, base_host: str,
                 base_path: str | None = None) -> Column:
    """Resolve an extracted ``href`` against its page's
    scheme/host/path — the frontier-discovery step between link
    extraction and canonicalization. All four inputs are SQL
    expressions (``"'https'"`` for a literal scheme). RFC 3986 §5
    reference resolution over the hierarchical cases:

    - absolute (``scheme://...``) keeps its own scheme/authority, path
      dot-segments collapsed (§5.2.2 applies remove_dot_segments to
      every hierarchical branch, including this one — ADVICE r11);
    - protocol-relative (``//authority/path``) takes the base scheme,
      path dot-segments collapsed;
    - root-relative (``/path``) joins scheme://host, dot-segments
      collapsed;
    - relative paths (``sub/page``, ``../x``, ``./same``) splice onto
      the base path's directory (base path's last segment dropped, RFC
      3986 §5.3 merge; an EMPTY or slash-less base path merges as
      ``/`` + ref per §5.3, so ``https://h.com`` + ``sub`` is
      ``https://h.com/sub``, never ``https://h.comsub`` — ADVICE r11)
      then collapse dot-segments — requires ``base_path``; with the
      default ``base_path=None`` they resolve to NULL (the
      pre-round-11 subset, kept for callers without a page path);
    - non-hierarchical refs (``mailto:``, ``javascript:``, ``#frag``,
      ``?query``, empty) resolve to NULL and are dropped upstream.

    Fragments are stripped first (never sent to the server); a
    relative ref's own query string survives the splice."""
    h = _no_fragment(href)
    rel_path = f"regexp_extract({h}, r'^([^?#]*)', 1)"
    rel_qs = f"regexp_extract({h}, r'(\\?[^#]*)', 1)"
    root = f"concat({base_scheme}, '://', {base_host})"
    resolved_abs = f"concat({root}, {_collapse(rel_path)}, {rel_qs})"
    # absolute: rebuild as prefix + collapsed path + query. For a clean
    # path the collapse gate passes it through verbatim and the rebuild
    # is byte-identical to the fragment-stripped href.
    abs_pre = (f"regexp_extract({h}, "
               f"r'^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)")
    abs_path = f"regexp_extract({h}, r'{_PATH_RE}', 1)"
    resolved_scheme = f"concat({abs_pre}, {_collapse(abs_path)}, {rel_qs})"
    # protocol-relative: base scheme + ref authority + collapsed path.
    pr_auth = f"regexp_extract({h}, r'^//([^/?#]*)', 1)"
    pr_path = f"regexp_extract({h}, r'^//[^/?#]*([^?#]*)', 1)"
    resolved_pr = (f"concat({base_scheme}, '://', {pr_auth}, "
                   f"{_collapse(pr_path)}, {rel_qs})")
    if base_path is None:
        rel = "CAST(NULL AS STRING)"
    else:
        base_dir = f"regexp_replace({base_path}, '[^/]*$', '')"
        merged = f"concat({base_dir}, {rel_path})"
        # §5.3: with an authority present and an empty (or slash-less,
        # hence directory-less) base path, the merge is '/' + ref.
        merged = (f"CASE WHEN startswith({merged}, '/') THEN {merged} "
                  f"ELSE concat('/', {merged}) END")
        rel = f"concat({root}, {_collapse(merged)}, {rel_qs})"
    return F.expr(
        f"CASE WHEN {h} = '' THEN NULL "
        f"WHEN rlike({h}, r'{_SCHEME_RE}') THEN {resolved_scheme} "
        f"WHEN startswith({h}, '//') THEN {resolved_pr} "
        f"WHEN startswith({h}, '/') THEN {resolved_abs} "
        f"WHEN rlike({h}, r'^[A-Za-z][A-Za-z0-9+.-]*:') "
        f"OR startswith({h}, '?') THEN NULL "
        f"ELSE {rel} END")


def registered_domains(hosts, suffixes, host_col: str = "host"):
    """Registered domain (eTLD+1) extraction by PSL rule match against
    a public-suffix dimension — the grouping key real crawl governance
    budgets on ('a.cdn.shop.co.uk' and 'www.shop.co.uk' are one SITE,
    'shop.co.uk'; per-host budgets over-fragment it, per-TLD budgets
    collapse unrelated sites). Matching implements the Public Suffix
    List algorithm over ALL THREE rule classes:

    - a PLAIN rule ('co.uk') matches the host's last len(rule) labels;
      the public suffix is the rule itself;
    - a WILDCARD rule ('*.ck') consumes ONE EXTRA host label beyond
      its literal tail — 'bar.ck' and 'foo.bar.ck' both match, with
      public suffix 'bar.ck' (so the host needs at least rule-length
      labels: bare 'ck' does NOT match '*.ck');
    - an EXCEPTION rule ('!www.ck') matches like a plain rule but
      PREVAILS over every other match, and the public suffix is the
      rule MINUS its leftmost label ('ck') — making 'www.ck' a
      registrable domain inside the '*.ck' wildcard family.

    Prevailing rule: the matching exception if any, else the match
    with the most rule labels (longest match); an unlisted tail falls
    back to the single rightmost label (the PSL default '*' rule).
    The registered domain is the public suffix plus one more label —
    NULL when the host IS a public suffix (nothing registrable).
    PSL matching is case-insensitive: hosts are lowercased for label
    matching (ADVICE r13 — a mixed-case 'Shop.CO.UK' previously
    missed its listed suffix) and the OUTPUT host keeps the caller's
    original bytes while public_suffix/reg_domain come out lowercase
    (the PSL-canonical form).

    The scale trick is the join SHAPE: a naive endswith test against
    the suffix dim is a broadcast NESTED-LOOP join (every host row x
    every rule); instead each host explodes into its own suffix CHAIN
    (<= label-count candidates, label counts are tiny) which
    EQUI-joins the broadcast dim hash-side — wildcard rules join on
    their literal tail with the extra label expressed as one
    predicate (k < n), exceptions as a priority column — O(hosts x
    labels) probe work, no nested loop, and the prevailing rule is
    one MAX over the matched chain. Returns
    (host, public_suffix, reg_domain), distinct per host.

    ``hosts``: DataFrame with ``host_col``; ``suffixes``: single-
    column DataFrame of PSL rules ('co.uk', '*.ck', '!www.ck' — no
    leading dot; rules are lowercased defensively)."""
    from pyspark.sql import DataFrame  # noqa: F401  (doc typing only)

    h = hosts.select(F.col(host_col).alias("host")).distinct()
    labels = F.split(F.lower(F.col("host")), r"\.")
    base = h.select("host", labels.alias("ls"),
                    F.size(labels).alias("n"))
    cands = (base.select(
        "host", "n",
        F.explode(F.expr(
            "transform(sequence(1, n), i -> struct(n - i + 1 AS k, "
            "array_join(slice(ls, i, n - i + 1), '.') AS cand))"))
        .alias("c"))
        .select("host", "n", F.col("c.k").alias("k"),
                F.col("c.cand").alias("cand")))
    parsed = (suffixes.select(
        F.lower(F.col(suffixes.columns[0])).alias("rule"))
        .distinct()
        .withColumn("is_exc", F.col("rule").startswith("!"))
        .withColumn("body", F.when(F.col("is_exc"),
                                   F.expr("substring(rule, 2)"))
                    .otherwise(F.col("rule")))
        .withColumn("wild", F.col("body").startswith("*.")))
    # fail-loud contract check (one tiny action over the rule dim): a
    # single-label exception ('!ck') has NO suffix left after dropping
    # its leftmost label — its 'public suffix' would be the empty
    # string, structurally invalid output produced silently otherwise.
    # Real PSL exceptions always carve a registrable island out of a
    # multi-label wildcard family.
    bad = (parsed.filter(F.col("is_exc")
                         & ~F.col("body").contains("."))
           .select("rule").limit(4).collect())
    if bad:
        raise ValueError(
            f"registered_domains: single-label exception rule(s) "
            f"{[r['rule'] for r in bad]} — an exception's public "
            f"suffix is the rule minus its leftmost label, which "
            f"leaves nothing here; fix the rule table")
    rules = parsed.select(
        F.when(F.col("wild"), F.expr("substring(body, 3)"))
        .otherwise(F.col("body")).alias("cand"),
        "is_exc", "wild")
    # prevailing-rule priority in ONE integer: exceptions live above
    # 1000 (they beat any label count — real PSL rules are < 10
    # labels), otherwise the value IS the rule's public-suffix label
    # count (k for plain, k+1 for wildcard — both equal the rule's
    # label count, the PSL longest-match ordering; for an exception
    # the suffix is the rule minus its leftmost label, k-1)
    prio = (F.when(F.col("is_exc"), F.lit(1000) + F.col("k") - 1)
            .when(F.col("wild"), F.col("k") + 1)
            .otherwise(F.col("k")))
    matched = (cands.join(F.broadcast(rules), "cand")
               .filter(~F.col("wild") | (F.col("k") < F.col("n")))
               .groupBy("host").agg(F.max(prio).alias("prio")))
    out = (base.join(matched, "host", "left")
           .select("host", "ls", "n",
                   F.coalesce(
                       F.when(F.col("prio") >= 1000,
                              F.col("prio") - 1000)
                        .otherwise(F.col("prio")),
                       F.lit(1)).alias("k")))
    pub = F.expr("array_join(slice(ls, n - k + 1, k), '.')")
    reg = F.when(F.col("n") > F.col("k"),
                 F.expr("array_join(slice(ls, n - k, k + 1), '.')"))
    return out.select("host", pub.alias("public_suffix"),
                      reg.alias("reg_domain"))

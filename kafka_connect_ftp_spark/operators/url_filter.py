"""URL / domain blocklist filtering — the curation step that drops
documents from known-bad hosts before any content-level gate runs (C4
applied a badwords/URL blocklist; RefinedWeb and the UT1-blacklist
pipelines filter by registered domain first because it is the cheapest
highest-precision signal in the stack).

Everything is a codegen'd column expression (the url_norm.py contract:
no UDF, no shuffle, fuses into the scan):

- :func:`url_host` — the lowercased authority host (userinfo and port
  stripped); NULL for strings with no ``scheme://authority``;
- :func:`registered_domain` — the "one label below the public suffix"
  heuristic: last two labels, or last three when the last two are a
  multi-label public suffix (``co.uk``-class, literal set below). A
  full public-suffix list is data, not code — pass ``multi_tlds`` to
  extend; the heuristic form keeps the column pure codegen;
- :func:`host_blocked` — membership of a LITERAL blocklist: exact host
  match plus (optionally) any-subdomain match (``ads.example.com``
  blocked by ``example.com``; dotless entries exact-only). Literal
  lists compile to an IN + a bounded endswith chain — right for
  curated lists up to a few hundred entries (each entry is one
  codegen'd comparison per row);
- :func:`filter_by_blocklist` — the SCALE path: a million-entry UT1
  blocklist is a FRAME, not a literal. DISTINCT corpus hosts explode
  into their dot-suffix chains (so a mid-level entry like
  ``src3.example.org`` blocks ``cdn.src3.example.org`` — an exact-host
  + registered-domain two-probe design misses exactly that shape), a
  semi-join against the entry set yields the blocked hosts, and one
  equi-join marks corpus rows — broadcast by default (the corpus never
  shuffles), with a guarded shuffle mode for entry sets past broadcast
  size.

Both match semantics are the standard blocklist convention: an entry
matches itself and every subdomain, never a superdomain (blocking
``ads.example.com`` does not block ``example.com``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# multi-label public suffixes the 2-label heuristic would split wrong.
# Deliberately the short high-traffic set — the full PSL is data (pass
# multi_tlds); these cover the overwhelming share of real crawl URLs.
MULTI_LABEL_TLDS: frozenset[str] = frozenset(
    {
        "co.uk", "org.uk", "ac.uk", "gov.uk",
        "com.au", "net.au", "org.au",
        "co.jp", "ne.jp", "or.jp",
        "com.br", "com.cn", "com.mx", "com.tr", "com.ar",
        "co.in", "co.kr", "co.za", "com.sg", "com.hk", "com.tw",
    }
)

# the host is either a bracketed IPv6 literal (colons are part of the
# address, the port comes after the closing bracket: [2001:db8::1]:8080)
# or a reg-name/IPv4 ending at the first of :/?# — the bracket
# alternative must come FIRST or the non-bracket branch stops at the
# first colon inside the address (round 10 shipped only the second
# branch and [2001:db8::1] parsed as host "[2001" — a garbage,
# never-matching host, so IPv6 URLs were silently unblockable).
_HOST_RX = r"^[^:/?#]+://(?:[^/@?#]*@)?(\[[^\]/?#]*\]|[^/?#:]+)"


def url_host(col: Column | str) -> Column:
    """Lowercased authority host: userinfo and port stripped, NULL when
    the string has no ``scheme://authority`` prefix (relative URLs have
    no host to block on). Bracketed IPv6 literals keep their brackets
    (``http://[2001:db8::1]:8080/x`` -> ``[2001:db8::1]``) — the
    bracket form is the canonical blocklist-entry spelling for v6."""
    # regexp strip, not F.trim: trim() removes only the space character,
    # and crawl data pads URLs with tabs/newlines too
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"^\s+|\s+$", "")
    host = F.lower(F.regexp_extract(c, _HOST_RX, 1))
    return F.when(host == "", F.lit(None).cast("string")).otherwise(host)


def registered_domain(
    host_col: Column | str, *, multi_tlds: frozenset[str] = MULTI_LABEL_TLDS
) -> Column:
    """The registrable domain of a host column (module doc heuristic).
    A host with <= 2 labels (an IP-looking all-digit tail, or a
    bracketed IPv6 literal — whose dots, if any, are v4-mapped address
    bytes, not DNS labels) passes through unchanged — blocking
    decisions on bare TLDs or IPs belong to exact-host entries. NULL
    in -> NULL out."""
    h = F.col(host_col) if isinstance(host_col, str) else host_col
    last2 = F.regexp_extract(h, r"([^.]+\.[^.]+)$", 1)
    last3 = F.regexp_extract(h, r"([^.]+\.[^.]+\.[^.]+)$", 1)
    ip_like = h.rlike(r"^\d{1,3}(\.\d{1,3}){3}$") | h.startswith("[")
    return F.when(h.isNull() | ip_like | (last2 == ""), h).otherwise(
        F.when(
            last2.isin(*sorted(multi_tlds)) & (last3 != ""), last3
        ).otherwise(last2)
    )


def host_blocked(
    host_col: Column | str,
    blocklist: tuple[str, ...] | list[str],
    *,
    include_subdomains: bool = True,
) -> Column:
    """True when the host is a blocklist entry or (by default) any
    subdomain of one. LITERAL-list form — each entry compiles to one
    comparison per row, so keep lists to curated size and use
    :func:`filter_by_blocklist` for blocklist FRAMES. NULL host ->
    false (no host, nothing to block). DOTLESS entries (``localhost``,
    a bare TLD, a bracket IPv6 literal) match exact-host only — the
    same rule as the frame path's >= 2-label suffix chain, so the two
    paths never disagree on a decision (round 11: they did — the
    literal ``endswith('.org')`` blocked ``example.org`` for entry
    ``org`` while the frame path, per its contract, did not)."""
    if not blocklist:
        raise ValueError("blocklist must be non-empty")
    entries = sorted({b.lower().rstrip(".") for b in blocklist})
    if any(not e for e in entries):
        raise ValueError("blocklist entries must be non-empty hostnames")
    h = F.col(host_col) if isinstance(host_col, str) else host_col
    hit = h.isin(*entries)
    if include_subdomains:
        for e in entries:
            if "." in e and not e.startswith("["):
                hit = hit | h.endswith("." + e)
    return F.coalesce(hit, F.lit(False))


def filter_by_blocklist(
    df: DataFrame,
    blocklist: DataFrame,
    *,
    url_col: str = "url",
    entry_col: str = "domain",
    keep_blocked: bool = False,
    join_mode: str = "broadcast",
    max_broadcast_entries: int | None = 5_000_000,
) -> DataFrame:
    """Remove (or, with ``keep_blocked=True``, keep only) rows whose URL
    host or registered domain appears in the ``blocklist`` frame — the
    scale path for list sizes where a literal expression is wrong
    (UT1-class lists run to millions of entries).

    Matching is the FULL standard blocklist semantics: an entry blocks
    its exact host and every subdomain at any depth — the row's host is
    expanded into its dot-suffix chain (``cdn.src3.example.org`` →
    itself, ``src3.example.org``, ``example.org``) and any suffix
    hitting the entry set blocks the row. Suffixes keep >= 2 labels, so
    a bare-TLD entry can never match (blocklists don't ship those) —
    including against 2-label hosts, where the chain is just the host
    itself (round 11: the r10 chain built ``sequence(1, 0)``, which
    Spark evaluates DESCENDING as ``[1, 0]``, handing every <= 2-label
    host a bare-TLD suffix — entry ``org`` blocked ``example.org``). A
    single-label host (``localhost``) and a bracketed IPv6 literal
    (whose dots are address bytes, not labels) match only themselves.

    Plan shape — equi-joins only (an OR/array-membership condition
    would silently degrade to a nested-loop join):
    1. DISTINCT hosts (one shuffle, bounded by distinct-host
       cardinality — short strings, ~10^7-10^8 rows at crawl scale,
       never corpus-proportional) explode into their suffix chains
       (bounded by host label depth, ~3-6);
    2. a left-semi against the (lowercased, deduped) entry set yields
       the BLOCKED host set — bounded by distinct blocked hosts;
    3. one equi left-join marks corpus rows.

    ``join_mode`` picks the physical strategy for steps 2-3:

    - ``"broadcast"`` (default): both joins broadcast; the corpus never
      shuffles and never multiplies. Right while the entry set and the
      blocked-host set fit executor memory (~10^7 short strings). The
      ``max_broadcast_entries`` guard counts the DEDUPED entry set (the
      blocklist side — cheap, never corpus-derived) up front and raises
      with the recipe instead of letting the driver OOM mid-broadcast;
      pass ``None`` to skip the count when the list is known-small.
      The blocked-host set (step 2's output) is a subset of hosts that
      MATCH an entry, so the same bound covers it to within subdomain
      multiplicity; genuinely adversarial subdomain explosions belong
      in shuffle mode.
    - ``"shuffle"``: no broadcast anywhere — steps 1-2 shuffle only
      host/entry strings (bounded, tiny next to the corpus) and step 3
      is a shuffle join that repartitions the corpus ONCE on the host
      key. That single corpus shuffle is the honest scale cost when
      the blocked-host set cannot ship to every executor; semantics
      are identical. To eliminate even that, pre-bucket the corpus and
      the blocked-host frame on the host (the pattern of
      streaming/bucketed_state.py) — the joins here then go
      bucket-local."""
    if join_mode not in ("broadcast", "shuffle"):
        raise ValueError(f"join_mode must be broadcast|shuffle, got {join_mode!r}")
    clash = {"_ufb_host", "_ufb_hit", "_ufb_sfx", "_ufb_entry"} & set(df.columns)
    if clash:
        raise ValueError(f"df carries reserved column(s) {sorted(clash)}")
    entries = (
        blocklist.select(
            F.lower(F.trim(F.col(entry_col))).alias("_ufb_entry")
        )
        .filter(F.col("_ufb_entry") != "")
        .distinct()
    )
    if join_mode == "broadcast" and max_broadcast_entries is not None:
        n_entries = entries.count()
        if n_entries > max_broadcast_entries:
            raise ValueError(
                f"filter_by_blocklist: {n_entries} deduped blocklist entries"
                f" exceed max_broadcast_entries={max_broadcast_entries} —"
                " broadcasting a set this size risks a driver/executor OOM."
                " Pass join_mode='shuffle' (one corpus repartition on the"
                " host key, no broadcast), raise max_broadcast_entries if"
                " executor memory genuinely holds it, or pre-bucket corpus"
                " and entries on the host (see docstring)."
            )
    probed = df.withColumn("_ufb_host", url_host(url_col))
    # all proper dot-suffixes with >= 2 labels, plus the host itself.
    # Hosts with <= 2 labels contribute NO proper suffix (sequence(1, 0)
    # is DESCENDING [1, 0] in Spark, not empty — unguarded it emits the
    # bare TLD), and bracket IPv6 literals only ever match exactly.
    _n = "size(split(_ufb_host, '[.]'))"
    sfx = F.expr(
        "array_union(array(_ufb_host),"
        f" if({_n} > 2 and not startswith(_ufb_host, '['),"
        f"    transform(sequence(1, {_n} - 2),"
        "      i -> array_join(slice(split(_ufb_host, '[.]'), i + 1, 1000), '.')),"
        "    array()))"
    )
    # shuffle mode hints merge so the STATIC plan never forces a big
    # broadcast; AQE may still legitimately demote a runtime-small side
    # to broadcast — that's safe (AQE sees the real size, we don't)
    _bcast = F.broadcast if join_mode == "broadcast" else (lambda d: d.hint("merge"))
    bad_hosts = (
        probed.select("_ufb_host")
        .filter(F.col("_ufb_host").isNotNull())
        .distinct()
        .select("_ufb_host", F.explode(sfx).alias("_ufb_sfx"))
        .join(
            _bcast(entries), F.col("_ufb_sfx") == F.col("_ufb_entry"), "left_semi"
        )
        .select(F.col("_ufb_host").alias("_ufb_hit"))
        .distinct()
    )
    marked = probed.join(
        _bcast(bad_hosts), F.col("_ufb_host") == F.col("_ufb_hit"), "left"
    )
    blocked = F.col("_ufb_hit").isNotNull()
    out = marked.filter(blocked if keep_blocked else ~blocked)
    return out.drop("_ufb_host", "_ufb_hit")

"""RFC 6265 cookie-jar semantics for the distributed crawl (C11).

The reference delegates cookie state to faraday's cookie_jar middleware
(/root/reference/lib/sinew/base.rb:204), which honors domain/path scoping
and expiry across hosts within the process. Round 1-2 of this engine kept
an opaque per-host name→value dict — test-level parity, but a crawl
spanning sibling subdomains diverged (a ``Domain=example.com`` cookie set
on ``www`` never reached ``shop``). This module implements the real
semantics as pure functions over a JSON-serializable jar so both fetch
plans (paced per-host applyInArrow and unpaced mapInArrow, one fetch
loop) and the host_state persistence share one implementation:

- a jar is ``{"c": [record, ...]}``; each record is
  ``{n, v, d, p, ho, exp, at, mt}`` — name, value, domain, path,
  host_only, expiry epoch (None = session), creation stamp, and
  modification stamp (logical counters, so replay is deterministic; RFC
  creation-time ordering without wall-clock dependence). A deletion
  leaves a TOMBSTONE record (``tomb: true``) — that's what lets a
  delete observed on one partition/row beat an untouched copy of the
  same cookie on another: the cross-row merge is per-RECORD by max
  modification stamp, never whole-jar last-writer-wins. The legacy flat
  ``{name: value}`` format normalizes to host-only session cookies of
  the owning host.
- ``domain_match`` / ``path_match`` / default-path follow RFC 6265
  §5.1.3 / §5.1.4; ``cookies_for`` applies §5.4 ordering (longer path
  first, then creation order; first occurrence of a name wins).
- cross-host visibility is scoped by a SITE key (registrable-domain
  approximation: last two host labels, three under common two-label
  eTLDs — the standard PSL shortcut, swap in the full list if a corpus
  needs it). host_state rows stay keyed by host; at fetch-seeding time
  the per-site rows merge with last-writer-wins by (round, host), and a
  host's persisted row keeps only records whose domain matches it (it
  never re-asserts a sibling's host-only cookies).
"""

from __future__ import annotations

import json

# common two-label public suffixes: hosts under these take 3 labels as the
# registrable site key (co.uk style); everything else takes 2
COMMON_ETLD2 = frozenset(
    {
        "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
        "com.au", "net.au", "org.au", "edu.au", "gov.au",
        "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
        "com.br", "net.br", "org.br", "com.cn", "net.cn", "org.cn",
        "co.in", "net.in", "org.in", "co.nz", "net.nz", "org.nz",
        "co.za", "com.mx", "com.ar", "com.tr", "com.tw", "co.kr",
        "com.sg", "com.hk", "co.th", "com.my", "co.id", "com.ph",
        "com.vn", "com.pl", "com.ru", "co.il", "com.sa", "com.eg",
    }
)


def site_key(host: str) -> str:
    """Registrable-domain approximation used to scope cross-host cookie
    visibility (and the host_state merge): last 2 labels, or 3 when the
    last 2 form a common eTLD. IPs / single-label hosts pass through."""
    if not host:
        return ""
    labels = host.lower().split(".")
    if len(labels) < 3:
        return host.lower()
    if all(p.isdigit() for p in labels):  # IPv4
        return host.lower()
    tail2 = ".".join(labels[-2:])
    n = 3 if tail2 in COMMON_ETLD2 else 2
    return ".".join(labels[-n:])


def site_key_expr(host):
    """Catalyst twin of ``site_key`` (parity test-pinned) — used by the
    crawl loop's cookie-seeding broadcast join so the frontier side stays
    pure whole-stage-codegen."""
    from pyspark.sql import functions as F

    h = F.lower(host)
    labels = F.split(h, r"\.")
    tail2 = F.array_join(F.slice(labels, -2, 2), ".")
    tail3 = F.array_join(F.slice(labels, -3, 3), ".")
    return F.when(
        (F.size(labels) < 3) | h.rlike(r"^[0-9.]+$"), h
    ).otherwise(
        F.when(tail2.isin(*sorted(COMMON_ETLD2)), tail3).otherwise(tail2)
    )


def domain_match(host: str, domain: str) -> bool:
    """RFC 6265 §5.1.3 (host assumed not an IP for the suffix branch)."""
    host, domain = host.lower(), domain.lower()
    return host == domain or (
        host.endswith("." + domain) and not host.replace(".", "").isdigit()
    )


def path_match(req_path: str, cookie_path: str) -> bool:
    """RFC 6265 §5.1.4 path-match."""
    if req_path == cookie_path:
        return True
    if req_path.startswith(cookie_path):
        return cookie_path.endswith("/") or req_path[len(cookie_path)] == "/"
    return False


def default_path(req_path: str) -> str:
    """RFC 6265 §5.1.4 default-path of a request-uri."""
    if not req_path or not req_path.startswith("/"):
        return "/"
    i = req_path.rfind("/")
    return req_path[:i] if i > 0 else "/"


def _key(rec: dict) -> tuple:
    return (rec["d"], rec["p"], rec["n"])


def normalize_jar(obj, owner_host: str) -> dict[tuple, dict]:
    """Parse a jar JSON object (v2 ``{"c": [...]}`` or legacy flat
    ``{name: value}``) into the in-memory form: {(domain, path, name): rec}.
    Legacy entries become host-only session cookies of ``owner_host``."""
    if not obj:
        return {}
    if isinstance(obj, str):
        obj = json.loads(obj)
    if "c" in obj and isinstance(obj["c"], list):
        return {_key(r): dict(r) for r in obj["c"]}
    return {
        (owner_host, "/", n): {
            "n": n, "v": v, "d": owner_host, "p": "/", "ho": True,
            "exp": None, "at": i, "mt": i,
        }
        for i, (n, v) in enumerate(sorted(obj.items()))
    }


def dump_jar(jar: dict[tuple, dict]) -> str | None:
    """Deterministic serialization: records sorted by (domain, path, name)."""
    if not jar:
        return None
    return json.dumps(
        {"c": [jar[k] for k in sorted(jar)]}, sort_keys=True, separators=(",", ":")
    )


def cookies_for(
    jar: dict[tuple, dict], host: str, req_path: str, now: float, secure: bool = True
) -> dict:
    """The Cookie header view for one request (RFC 6265 §5.4): applicable,
    unexpired cookies, longest path first then creation order, first
    occurrence of a name wins. ``secure`` is whether the request channel
    is https — Secure-flagged records are withheld otherwise (§5.4 step 1;
    replaying a Secure session cookie over plain http is a credential
    leak). Returns a flat name→value dict (what the transport sends)."""
    return {
        n: jar[k]["v"]
        for n, k in _supplier_keys(jar, host, req_path, now, secure).items()
    }


def _supplier_keys(
    jar: dict[tuple, dict], host: str, req_path: str, now: float, secure: bool = True
) -> dict:
    """(name -> jar key) of the record whose value ``cookies_for`` sends
    per name — the same §5.4 walk, returning the WINNING record's key so
    deletion-by-absence can tombstone exactly the record the server saw
    (not every record sharing the name on other paths / Secure records
    that were withheld from this request)."""
    if not jar:
        return {}
    cands = []
    for key, rec in jar.items():
        if rec.get("tomb"):
            continue
        if rec.get("exp") is not None and rec["exp"] <= now:
            continue
        if rec.get("sec") and not secure:
            continue
        if rec.get("ho"):
            if host.lower() != rec["d"].lower():
                continue
        elif not domain_match(host, rec["d"]):
            continue
        if not path_match(req_path or "/", rec["p"]):
            continue
        cands.append((key, rec))
    cands.sort(key=lambda kr: (-len(kr[1]["p"]), kr[1].get("at", 0)))
    out: dict = {}
    for key, rec in cands:
        out.setdefault(rec["n"], key)
    return out


def set_cookie(
    jar: dict[tuple, dict],
    name: str,
    value,
    host: str,
    req_path: str = "/",
    now: float = 0.0,
) -> bool:
    """Apply one response cookie to the jar in place (RFC 6265 §5.3).
    ``value`` is a plain string (host-only, default path, session) or a
    dict {v, domain?, path?, max_age?, secure?} carrying attributes. An
    invalid Domain attribute (not a suffix of the request host, or a
    public suffix — single-label like ``com`` AND the dotted eTLDs in
    COMMON_ETLD2, so ``Domain=co.uk`` from shop.example.co.uk is rejected
    like RFC 6265 §5.3 step 5 / the reference's http-cookie jar, not
    stored as a supercookie) rejects the cookie; max_age <= 0 deletes it.
    Returns True iff the jar was modified (False on rejection)."""
    attrs = value if isinstance(value, dict) else {"v": value}
    dom = (attrs.get("domain") or "").lstrip(".").lower()
    if dom:
        if (
            not domain_match(host, dom)
            or ("." not in dom and dom != host.lower())
            or dom in COMMON_ETLD2
        ):
            return False  # rejected cookie
        rec_d, ho = dom, False
    else:
        rec_d, ho = host.lower(), True
    p = attrs.get("path")
    rec_p = p if p and p.startswith("/") else default_path(req_path)
    key = (rec_d, rec_p, name)
    prev = jar.get(key)
    mt = _next_stamp(jar)
    ma = attrs.get("max_age")
    if ma is not None and float(ma) <= 0:
        _tombstone(jar, key, rec_d, rec_p, name, ho, mt)
        return True
    at = prev["at"] if prev and not prev.get("tomb") else mt
    jar[key] = {
        "n": name,
        "v": attrs["v"],
        "d": rec_d,
        "p": rec_p,
        "ho": ho,
        "exp": (now + float(ma)) if ma is not None else None,
        "at": at,
        "mt": mt,
    }
    if attrs.get("secure"):
        jar[key]["sec"] = True
    return True


def _next_stamp(jar: dict[tuple, dict]) -> int:
    return (
        max(
            (max(r.get("at", 0), r.get("mt", r.get("at", 0))) for r in jar.values()),
            default=-1,
        )
        + 1
    )


def _tombstone(jar, key, d, p, name, ho, mt) -> None:
    """Record a deletion so it survives the per-record cross-row merge
    (beating stale live copies of the same cookie by modification stamp)."""
    jar[key] = {"n": name, "d": d, "p": p, "ho": ho, "tomb": True, "at": mt, "mt": mt}


def apply_response_cookies(
    jar: dict[tuple, dict],
    sent: dict,
    after: dict,
    host: str,
    req_path: str,
    now: float,
    secure: bool = True,
) -> bool:
    """Fold a transport's post-request cookie view back into the scoped
    jar. The transport speaks flat dicts: a NEW or CHANGED name (or a
    dict-valued entry carrying attributes) is a Set-Cookie; a name that
    was sent but is absent from ``after`` is a deletion of the records
    that supplied it. Returns True iff the jar changed — rows that only
    READ cookies must not re-persist the jar (a crawl where every page of
    a cookie-bearing host re-emitted its full jar would push O(fetched
    rows) jar JSONs through the host_state merge instead of O(Set-Cookie
    responses))."""
    changed = False
    for n, v in (after or {}).items():
        if isinstance(v, dict) or n not in sent or sent[n] != v:
            changed |= set_cookie(jar, n, v, host, req_path, now)
    gone = set(sent) - set(after or {})
    if gone:
        # tombstone ONLY the record that SUPPLIED each deleted name — the
        # §5.4 winner cookies_for actually sent. A same-named cookie on
        # another path (shadowed, never sent) or a Secure record withheld
        # from this http request is a DIFFERENT RFC 6265 cookie the server
        # never saw; deleting it on absence would destroy live state.
        # ``secure`` must match the flag the caller's cookies_for used.
        suppliers = _supplier_keys(jar, host, req_path, now, secure)
        for n in gone:
            key = suppliers.get(n)
            if key is None:
                continue
            rec = jar[key]
            _tombstone(
                jar, key, rec["d"], rec["p"], rec["n"], rec.get("ho", False),
                _next_stamp(jar),
            )
            changed = True
    return changed


def own_records(jar: dict[tuple, dict], host: str) -> dict[tuple, dict]:
    """The subset of a jar a host legitimately persists to host_state:
    records whose domain matches it — its own host-only cookies plus any
    domain cookies that apply to it; never a sibling's host-only state."""
    return {
        k: rec
        for k, rec in jar.items()
        if (host.lower() == rec["d"].lower() if rec.get("ho") else domain_match(host, rec["d"]))
    }


def parse_set_cookie_header(value: str, now: float | None = None) -> tuple[str, dict] | None:
    """Parse one Set-Cookie response header into the transport contract's
    (name, {v, domain?, path?, max_age?, secure?}) form. Max-Age wins over
    Expires (RFC 6265 §4.1.2.2); an Expires date converts to a relative
    max_age against ``now`` so the jar's single expiry representation
    applies. The Secure flag is kept so the jar can withhold the cookie
    from non-https requests. Returns None for malformed headers (no
    NAME=VALUE first pair)."""
    parts = value.split(";")
    if "=" not in parts[0]:
        return None
    name, v = parts[0].split("=", 1)
    name = name.strip()
    if not name:
        return None
    out: dict = {"v": v.strip().strip('"')}
    expires_raw = None
    for p in parts[1:]:
        p = p.strip()
        k, _, pv = p.partition("=")
        k, pv = k.strip().lower(), pv.strip()
        if k == "domain" and pv:
            out["domain"] = pv
        elif k == "path" and pv:
            out["path"] = pv
        elif k == "max-age" and pv:
            try:
                out["max_age"] = float(pv)
            except ValueError:
                pass
        elif k == "expires" and pv:
            expires_raw = pv
        elif k == "secure":
            out["secure"] = True
    if "max_age" not in out and expires_raw is not None and now is not None:
        try:
            from datetime import timezone
            from email.utils import parsedate_to_datetime

            dt = parsedate_to_datetime(expires_raw)
            if dt.tzinfo is None:
                # tz-less Expires dates are common in the wild; RFC 6265
                # cookie dates are GMT, and a naive .timestamp() would be
                # interpreted in EXECUTOR-local time — skewing expiry by
                # the UTC offset and making replay jars machine-dependent
                dt = dt.replace(tzinfo=timezone.utc)
            out["max_age"] = dt.timestamp() - now
        except (TypeError, ValueError):
            pass
    return name, out


def cookie_header(cookies: dict) -> str:
    """Serialize the flat applicable-cookie view into a Cookie request
    header (pairs in the dict's order — cookies_for already applied the
    §5.4 ordering)."""
    return "; ".join(f"{n}={v}" for n, v in cookies.items())


def merge_host_jars(
    rows: list[tuple[int, str, str]],
    now: float | None = None,
    gc_horizon: float = 30 * 86400,
) -> str | None:
    """Merge jar rows (same host across partitions/rounds, or sibling
    hosts of one site) into one jar. ``rows`` are (order, host, jar_json).
    The merge is per-RECORD: for each (domain, path, name) the record with
    the highest modification stamp wins, ties broken by row (order, host)
    — so a set or delete observed on one row beats every untouched stale
    copy of the same cookie carried by other rows, and concurrent
    same-stamp writes resolve deterministically. Legacy flat jars
    normalize against their own host.

    ``now`` (optional) enables LONG-expired-record GC, bounding jar
    growth for hosts that mint varying-name cookies (csrf_<id>, A/B
    tags) over a long crawl: post-merge, non-tombstone records whose
    ``exp`` lies more than ``gc_horizon`` seconds before ``now`` are
    dropped. The horizon keeps the expired record around long enough to
    beat any older live copy still circulating in unmerged rows (the
    merge window is rounds, the horizon is weeks). Callers must pass a
    REPLAY-STABLE ``now`` (a round/commit stamp), never wall-clock at
    merge time, or merged jars stop being a pure function of their
    inputs. Tombstones are never GC'd here — they are the deletion
    signal and carry no wall-clock."""
    merged: dict[tuple, dict] = {}
    for _ord, host, js in sorted(rows, key=lambda r: (r[0], r[1])):
        if not js:
            continue
        for k, rec in normalize_jar(js, host).items():
            prev = merged.get(k)
            if prev is None or rec.get("mt", rec.get("at", 0)) >= prev.get(
                "mt", prev.get("at", 0)
            ):
                merged[k] = rec
    if now is not None:
        cutoff = now - gc_horizon
        merged = {
            k: r
            for k, r in merged.items()
            if r.get("tomb") or r.get("exp") is None or r["exp"] > cutoff
        }
    return dump_jar(merged)

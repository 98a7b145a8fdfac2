"""String feature transforms: entropy, domain/subdomain extraction, safelists.

All pure Column expressions (higher-order array functions) — they stay in
whole-stage codegen, unlike the reference's scalar Scala UDFs
(dns/DNSWordCreation.scala:198, utilities/DomainProcessor.scala:28-49).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Country-code TLD set — reference: utilities/DomainProcessor.scala:10-25 and
# dns/DNSWordCreation.scala:17-30 (both hardcode the same set, including the
# "" quirk between "sj" and "sk").
COUNTRY_CODES = [
    "ac", "ad", "ae", "af", "ag", "ai", "al", "am", "an", "ao", "aq", "ar",
    "as", "at", "au", "aw", "ax", "az", "ba", "bb", "bd", "be", "bf", "bg",
    "bh", "bi", "bj", "bm", "bn", "bo", "bq", "br", "bs", "bt", "bv", "bw",
    "by", "bz", "ca", "cc", "cd", "cf", "cg", "ch", "ci", "ck", "cl", "cm",
    "cn", "co", "cr", "cu", "cv", "cw", "cx", "cy", "cz", "de", "dj", "dk",
    "dm", "do", "dz", "ec", "ee", "eg", "eh", "er", "es", "et", "eu", "fi",
    "fj", "fk", "fm", "fo", "fr", "ga", "gb", "gd", "ge", "gf", "gg", "gh",
    "gi", "gl", "gm", "gn", "gp", "gq", "gr", "gs", "gt", "gu", "gw", "gy",
    "hk", "hm", "hn", "hr", "ht", "hu", "id", "ie", "il", "im", "in", "io",
    "iq", "ir", "is", "it", "je", "jm", "jo", "jp", "ke", "kg", "kh", "ki",
    "km", "kn", "kp", "kr", "krd", "kw", "ky", "kz", "la", "lb", "lc", "li",
    "lk", "lr", "ls", "lt", "lu", "lv", "ly", "ma", "mc", "md", "me", "mg",
    "mh", "mk", "ml", "mm", "mn", "mo", "mp", "mq", "mr", "ms", "mt", "mu",
    "mv", "mw", "mx", "my", "mz", "na", "nc", "ne", "nf", "ng", "ni", "nl",
    "no", "np", "nr", "nu", "nz", "om", "pa", "pe", "pf", "pg", "ph", "pk",
    "pl", "pm", "pn", "pr", "ps", "pt", "pw", "py", "qa", "re", "ro", "rs",
    "ru", "rw", "sa", "sb", "sc", "sd", "se", "sg", "sh", "si", "sj", "",
    "sk", "sl", "sm", "sn", "so", "sr", "ss", "st", "su", "sv", "sx", "sy",
    "sz", "tc", "td", "tf", "tg", "th", "tj", "tk", "tl", "tm", "tn", "to",
    "tp", "tr", "tt", "tv", "tw", "tz", "ua", "ug", "uk", "us", "uy", "uz",
    "va", "vc", "ve", "vg", "vi", "vn", "vu", "wf", "ws", "ye", "yt", "za",
    "zm", "zw",
]

# Generic TLD set — reference: utilities/DomainProcessor.scala:27
TOP_LEVEL_DOMAINS = ["com", "org", "net", "int", "edu", "gov", "mil"]

NO_DOMAIN = "None"


def string_entropy(col: Column | str) -> Column:
    """Shannon entropy of the character distribution of a string.

    Reference: utilities/Entropy.scala:16-23 (sum over distinct chars of
    -p*log2(p), p = char frequency / string length). Golden:
    stringEntropy("abcdefg") = 2.807354922057603 (DNSWordCreationTest.scala:86-92).

    Native higher-order-function chain: O(distinct_chars * len) per row,
    entirely JVM-side. Empty/null strings → 0.0 (reference: sum over empty
    collection).
    """
    s = F.col(col) if isinstance(col, str) else col
    n = F.length(s)
    chars = F.split(s, "")  # ['a','b','c'] — O(n), unlike a substr loop

    uniq = F.array_distinct(chars)
    # count per distinct char as len(s) - len(replace(s, c)) — replace is a
    # native (codegen) string intrinsic, so the interpreted-lambda count
    # drops from O(distinct·len) filter-element evaluations to O(distinct)
    # transform steps (guide §4.1: prefer built-ins inside HOFs). The counts
    # are the same exact integers the filter(chars, x == c) form produced
    # (single-code-point search, literal match, no overlap), and the float
    # expression and summation order are unchanged (p*log2(p) in
    # first-appearance order), keeping reference goldens bit-identical.
    # Non-BMP contract (r13): Spark strings are UTF8String, so length(),
    # replace() and split("") are all code-POINT operations — a
    # surrogate-pair emoji is ONE element of `uniq` with length(c) == 1,
    # and this difference counts its occurrences exactly (no UTF-16
    # code-unit inflation). Pinned by
    # tests/test_transforms.py::TestEntropy::test_astral_plane_goldens.
    cnts = F.transform(uniq, lambda c: (n - F.length(F.replace(s, c))).cast("double"))
    ent = -F.aggregate(cnts, F.lit(0.0), lambda acc, cnt: acc + (cnt / n) * F.log2(cnt / n))
    return F.when(s.isNull() | (n == 0), F.lit(0.0)).otherwise(ent)


def _last(parts: Column) -> Column:
    return F.element_at(parts, -1)


def extract_subdomain_cols(url: Column | str) -> dict[str, Column]:
    """DNS domain/subdomain split → dict of 4 columns.

    Reference semantics (dns/DNSWordCreation.scala:157-196):
    - reverse-IP names (*.in-addr.arpa) and names with <= 2 parts →
      domain="None", subdomain="None"
    - last part a country code → domain = parts[n-3], subdomain = join of
      parts[0..n-4] (when any)
    - otherwise → domain = parts[n-2], subdomain = join of parts[0..n-3]
    - subdomain_length = len(subdomain) or 0.0; num_periods = number of parts
      (reference quirk: counts dot-separated parts, not periods).

    Returned keys: domain, subdomain, subdomain_length, num_periods —
    attach with df.withColumns(extract_subdomain_cols(F.col("name"))).
    """
    u = F.col(url) if isinstance(url, str) else url
    parts = F.split(u, r"\.")
    n = F.size(parts)
    is_ip = (n > 2) & (F.element_at(parts, -1) == "arpa") & (F.element_at(parts, -2) == "in-addr")
    last_is_cc = F.element_at(parts, -1).isin(*[c for c in COUNTRY_CODES if c]) | (
        F.element_at(parts, -1) == ""
    )

    name_case = (n > 2) & ~is_ip
    domain = (
        F.when(name_case & last_is_cc, F.element_at(parts, n - 2))
        .when(name_case, F.element_at(parts, n - 1))
        .otherwise(F.lit(NO_DOMAIN))
    )
    sub_cc = F.when(n - 3 >= 1, F.array_join(F.slice(parts, 1, n - 3), ".")).otherwise(
        F.lit(NO_DOMAIN)
    )
    sub_tld = F.array_join(F.slice(parts, 1, n - 2), ".")
    subdomain = (
        F.when(name_case & last_is_cc, sub_cc)
        .when(name_case, sub_tld)
        .otherwise(F.lit(NO_DOMAIN))
    )
    subdomain_length = F.when(subdomain != NO_DOMAIN, F.length(subdomain).cast("double")).otherwise(
        F.lit(0.0)
    )
    num_periods = n.cast("double")
    return {
        "domain": domain,
        "subdomain": subdomain,
        "subdomain_length": subdomain_length,
        "num_periods": num_periods,
    }


def extract_domain(host: Column | str) -> Column:
    """Proxy-side registered-domain extraction (utilities/DomainProcessor.scala:28-49).

    "None" for reverse-IP arpa names and hosts whose last label is neither a
    country-code nor a generic TLD; otherwise strip one trailing country code
    then one trailing generic TLD and take the last remaining label ("None"
    if nothing remains).
    """
    h = F.col(host) if isinstance(host, str) else host
    parts = F.split(h, r"\.")
    n = F.size(parts)
    last = F.element_at(parts, -1)
    is_ip = (n > 2) & (last == "arpa") & (F.element_at(parts, -2) == "in-addr")
    cc_list = [c for c in COUNTRY_CODES if c]
    last_is_cc = last.isin(*cc_list) | (last == "")
    last_is_tld = last.isin(*TOP_LEVEL_DOMAINS)

    after_cc = F.when(last_is_cc, F.slice(parts, 1, n - 1)).otherwise(parts)
    m = F.size(after_cc)
    stripped = F.when(
        (m > 0) & F.element_at(after_cc, -1).isin(*TOP_LEVEL_DOMAINS),
        F.slice(after_cc, 1, m - 1),
    ).otherwise(after_cc)

    result = F.when(F.size(stripped) > 0, F.element_at(stripped, -1)).otherwise(F.lit(NO_DOMAIN))
    return (
        F.when(is_ip, F.lit(NO_DOMAIN))
        .when(~last_is_cc & ~last_is_tld, F.lit(NO_DOMAIN))
        .otherwise(result)
    )


def top_domain_expr(
    domain: Column | str, top_domains: list[str], safelist: list[str] | None = None
) -> Column:
    """Safelist/popularity flag: 2 = hardcoded safelist, 1 = top-domain list,
    0 = neither. Reference: dns/DNSWordCreation.scala:147-155 and
    proxy/ProxyWordCreation.scala:54-67 (safelist "intel", SURVEY.md §7.4.8 —
    parameterized here).

    ``top_domains`` is the bare-name set (Alexa-style second-level names),
    inlined as a literal ``isin``. Plan construction grows with the list
    (~47 s at 10⁵ names), so a list the size of the reference's Alexa
    top-1M needs a broadcast left join instead: ROADMAP.md, "Flag top
    domains with a broadcast join, not an inlined literal set".
    """
    d = F.col(domain) if isinstance(domain, str) else domain
    safelist = safelist if safelist is not None else ["intel"]
    out = (
        F.when(d.isin(*safelist), F.lit(2))
        .when(d.isin(*top_domains) if top_domains else F.lit(False), F.lit(1))
        .otherwise(F.lit(0))
    )
    return out

"""SURT-form URLs and prefix scope rules.

Heritrix's scope decides acceptance by SURT prefixes (sorted-reversed-host
form: ``http://(com,example,www,)/path``), typically derived from the seed
list (SurtPrefixedDecideRule with seedsAsSurtPrefixes=true). Pure column
expressions: reverse the host labels, keep scheme+port, then prefix-match
against the broadcast prefix list.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def surt_form(url: Column) -> Column:
    """Canonical-URL -> SURT string ``scheme://(tld,domain,...,)/path``."""
    scheme = F.regexp_extract(url, r"^([a-z][a-z0-9+.-]*)://", 1)
    auth = F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://(?:[^/@]*@)?([^/?#]*)", 1)
    host = F.regexp_extract(auth, r"^([^:]*)", 1)
    port = F.regexp_extract(auth, r":([0-9]+)$", 1)
    rest = F.regexp_replace(url, r"^[a-z][a-z0-9+.-]*://[^/?#]*", "")
    rev = F.concat(F.array_join(F.reverse(F.split(host, r"\.")), ","), F.lit(","))
    portpart = F.when(port != "", F.concat(F.lit(":"), port)).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://("), rev, portpart, F.lit(")"), rest)


def surt_py(url: str) -> str:
    """Python twin of ``surt_form`` (used by the crawl simulator)."""
    import re

    m = re.match(r"^([a-z][a-z0-9+.-]*)://(?:[^/@]*@)?([^/?#]*)(.*)$", url)
    if not m:
        return url
    scheme, auth, rest = m.groups()
    host = auth.split(":")[0]
    pm = re.search(r":([0-9]+)$", auth)
    port = f":{pm.group(1)}" if pm else ""
    return f"{scheme}://({','.join(reversed(host.split('.')))},{port}){rest}"


def surt_prefix_from_url(url: str) -> str:
    """Python twin: the SURT *prefix* implied by a seed (host-level scope)."""
    import re

    m = re.match(r"^([a-z][a-z0-9+.-]*)://(?:[^/@]*@)?([^/:?#]*)", url.lower())
    if not m:
        return url
    scheme, host = m.group(1), m.group(2)
    return f"{scheme}://({','.join(reversed(host.split('.')))},"


def in_surt_scope(url: Column, prefixes: list[str]) -> Column:
    """True iff the URL's SURT form starts with any accepted prefix."""
    s = surt_form(url)
    cond = F.lit(False)
    for p in prefixes:
        cond = cond | s.startswith(p)
    return cond


# the reference scope's hygiene predicates (cxml pathological-path and
# too-many-path-segments rules)
PATHOLOGICAL_PATH = r"^.*?/(?:[^/]+/)*([^/]+)/(?:\1/){2,}.*$"  # repeated segment 3+
TOO_MANY_SEGMENTS = r"^[^?]*(?:/[^/?]+){20,}.*$"

"""Star-sample resolution for the CLI — getStars analog.

Mirrors lcc/cli/stars_handling.py's spec grammar:

- ``folder``          → every ``*.dat`` curve under ``INP_LCS/folder``
- ``folder:N``        → first N files (sorted by name)
- ``folder%f``        → fraction ``f`` of the files (deterministic head)
- ``QUERY:Conn:file`` → remote connector ``Conn`` driven by the query
  file under ``QUERIES`` (network path — resolved through the
  declarative connector registry, sources/remote.py).

Each spec yields long-format observations (star_id, t, mag, err); specs
union into one sample. Feature extraction happens downstream (the
descriptor stage), so the load is one distributed text scan per folder.
"""

from __future__ import annotations

import glob
import math
import os

from pyspark.sql import DataFrame, SparkSession

from ..sources import files


def _parse_text_obs(text: str) -> list[dict]:
    """Plain-text light-curve response → obs dicts: whitespace-separated
    numeric rows read as (t, mag[, err]); comment/HTML/label lines are
    skipped. Covers the ASCII tables the Asas CGI / Macho Vgraph LC
    endpoints return (the TAP JSON shape never applies to those)."""
    out: list[dict] = []
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith(("#", "<", ";", "\\")):
            continue
        parts = line.split()
        try:
            t, mag = float(parts[0]), float(parts[1])
        except (IndexError, ValueError):
            continue
        err = None
        if len(parts) > 2:
            try:
                err = float(parts[2])
            except ValueError:
                pass
        out.append({"t": t, "mag": mag, "err": err})
    return out


def _http_transport(base_url: str, query: str) -> list[dict]:
    """Minimal urllib transport for the CLI's remote path (tests inject
    fakes; see sources/remote.py Transport contract). Two response
    shapes: TAP JSON for catalog queries, plain-text tables for the
    per-star light-curve endpoints (Asas CGI, Macho Vgraph) — a
    JSON-only decode crashed every real LC fetch inside the
    mapInPandas executor."""
    import json as _json
    import urllib.parse
    import urllib.request

    url = query if query.startswith("http") else (
        base_url.rstrip("/") + "/sync?"
        + urllib.parse.urlencode(
            {"REQUEST": "doQuery", "LANG": "ADQL", "FORMAT": "json", "QUERY": query}
        )
    )
    with urllib.request.urlopen(url, timeout=60) as resp:
        body = resp.read().decode("utf-8", "replace")
    try:
        payload = _json.loads(body)
    except ValueError:
        return _parse_text_obs(body)
    if isinstance(payload, list):
        return payload
    cols = [c["name"] for c in payload.get("metadata", [])]
    return [dict(zip(cols, row)) for row in payload.get("data", [])]


def coerce_query_values(rows: list[dict]) -> list[dict]:
    """Query files load as all-string columns (files.load_query_file
    leaves casting to the caller) but the remote predicate builders
    need numerics: ``'10' / 3600.0`` raises in cone_box_conditions and
    ``"Vmag" = '9.0'`` compiles to a string-equality ADQL predicate.
    int, then float, else the string stays (ids, paths, names)."""
    def _c(v):
        if not isinstance(v, str):
            return v
        for cast in (int, float):
            try:
                return cast(v)
            except ValueError:
                pass
        return v

    return [{k: _c(v) for k, v in r.items()} for r in rows]


def load_spec(
    spark: SparkSession, spec: str, inp_lcs: str, query_path: str | None = None
) -> DataFrame:
    if spec.startswith("QUERY:"):
        _, conn_name, qfile = spec.split(":", 2)
        from ..sources import remote

        queries = coerce_query_values(
            files.load_query_file(os.path.join(query_path or ".", qfile))
        )
        config = remote.get_provider(conn_name)
        stars = remote.fetch_stars(spark, config, queries, _http_transport)
        return remote.fetch_light_curves(stars, config, _http_transport)

    if "%" in spec:
        folder, frac = spec.split("%", 1)
        n_all = len(glob.glob(os.path.join(inp_lcs, folder, "*.dat")))
        limit = max(1, int(math.floor(n_all * float(frac))))
        return files.load_dat_curves(
            spark, os.path.join(inp_lcs, folder), files_limit=limit
        )
    if ":" in spec:
        folder, n = spec.rsplit(":", 1)
        return files.load_dat_curves(
            spark, os.path.join(inp_lcs, folder), files_limit=int(n)
        )
    return files.load_dat_curves(spark, os.path.join(inp_lcs, spec))


def load_specs(
    spark: SparkSession,
    specs: list[str],
    inp_lcs: str,
    query_path: str | None = None,
) -> DataFrame:
    """Union of all specs (getStars concatenates samples)."""
    if not specs:
        raise ValueError("at least one star-sample spec is required")
    out = None
    for spec in specs:
        df = load_spec(spark, spec, inp_lcs, query_path)
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
    return out

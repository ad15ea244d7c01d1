"""Seeded SBOM inputs and a pure-Python reference of the engine's output.

``write_merge_corpus`` writes, deterministically in the seed, a
bucket-like directory for EP2 (merge mode).  Most files are CycloneDX
documents whose package names are Zipf-skewed, so many component rows
share a dedup key, and about a third of whose licenses are unknown.
Around them sit the files the merge path must drop: SPDX and
GitHub-wrapped documents (CycloneDX gate), invalid JSON (validation
gate), names rejected by the include/exclude patterns and the output
key itself.

``reference_merge`` re-derives, without Spark, the rows the pipeline
must produce: the provenance chain, the license fallback chain, the
deterministic dedup keep-rule and the license-map patch.  All generated
strings are ASCII without quotes or backslashes, so JSON text compares
the same in Python and in Spark.
"""

from __future__ import annotations

import json
import os
import random
import re
from dataclasses import dataclass, field

UNKNOWN = "unknown"
LICENSES = [
    "MIT", "MIT-0", "Apache-2.0", "BSD-3-Clause", "BSD-2-Clause", "ISC",
    "MPL-2.0", "GPL-3.0-only", "LGPL-2.1-only", "Unlicense",
]
# Tool names the provenance chain skips (engine stop-list substrings).
STOP_TOOLS = ["GitHub.com-Dependency-Graph", "protobom", "CycloneDX-cli"]
ECOSYSTEMS = ["npm", "pypi", "maven", "cargo", "golang"]
SYLLABLES = [
    "ab", "ar", "bo", "cal", "da", "el", "fo", "gen", "hy", "io", "jet",
    "ka", "lo", "mi", "no", "or", "pa", "qu", "ra", "so", "ti", "ur",
    "ve", "wo", "xy", "ze",
]

INCLUDE = "*.json"
EXCLUDE = "*-draft.json"
OUTPUT_KEY = "merged-sbom.json"
N_PACKAGES = 5000  # package vocabulary of one seed
N_REPOS = 30  # repositories the documents come from
UNKNOWN_FRAC = 1 / 3  # share of components without a license


@dataclass
class MergeCorpus:
    """What ``write_merge_corpus`` wrote, for the reference and the report."""

    path: str
    license_map_path: str
    files: int
    input_bytes: int
    kinds: dict[str, int] = field(default_factory=dict)


def _package_names(rng: random.Random, n: int) -> list[str]:
    names: set[str] = set()
    while len(names) < n:
        k = rng.randint(2, 4)
        names.add("".join(rng.choice(SYLLABLES) for _ in range(k)) + f"-{len(names)}")
    return sorted(names)


def _zipf_weights(n: int, s: float) -> list[float]:
    return [1.0 / (i + 1) ** s for i in range(n)]


class _Universe:
    """Package vocabulary shared by every document of one seed."""

    def __init__(self, rng: random.Random):
        self.names = _package_names(rng, N_PACKAGES)
        rng.shuffle(self.names)
        self.weights = _zipf_weights(N_PACKAGES, 1.1)
        self.versions = {
            n: [f"{rng.randint(0, 9)}.{rng.randint(0, 30)}.{v}" for v in range(rng.randint(1, 3))]
            for n in self.names
        }
        self.license = {n: rng.choice(LICENSES) for n in self.names}
        self.eco = {n: rng.choice(ECOSYSTEMS) for n in self.names}

    def pick(self, rng: random.Random, k: int) -> list[str]:
        return rng.choices(self.names, weights=self.weights, k=k)

    def license_map(self, rng: random.Random) -> dict[str, str]:
        # The dimension covers about half the vocabulary, so some unknown
        # licenses are patched and some stay unknown.
        return {n: self.license[n] for n in self.names if rng.random() < 0.5}


def _cdx_component(rng: random.Random, u: _Universe, name: str) -> dict:
    version = rng.choice(u.versions[name])
    comp: dict = {"type": "library", "name": name, "version": version}
    if rng.random() < 0.9:
        comp["purl"] = f"pkg:{u.eco[name]}/{name}@{version}"
    lic = u.license[name]
    r = rng.random()
    if r < UNKNOWN_FRAC:
        if rng.random() < 0.5:
            comp["licenses"] = []
    elif r < UNKNOWN_FRAC + 0.35:
        comp["licenses"] = [{"license": {"id": lic}}]
    elif r < UNKNOWN_FRAC + 0.45:
        comp["licenses"] = [{"license": {"name": lic}}]
    elif r < UNKNOWN_FRAC + 0.55:
        comp["licenses"] = [{"expression": lic}]
    else:
        comp["licenses"] = [{}]
        comp["properties"] = [{"name": "spdx:license-concluded", "value": lic}]
    if rng.random() < 0.03:
        comp["source"] = f"merged:{rng.choice(['alpha', 'beta', 'gamma'])}"
    return comp


def _cdx_doc(rng: random.Random, u: _Universe, repos: list[str], n_comp: int) -> dict:
    doc: dict = {
        "bomFormat": "CycloneDX",
        "specVersion": "1.5",
        "version": 1,
        "metadata": {"timestamp": "2024-05-01T00:00:00Z"},
    }
    repo = rng.choice(repos)
    r = rng.random()
    # Provenance strategies, in the engine's priority order.
    if r < 0.6:
        doc["metadata"]["component"] = {"type": "application", "name": repo, "version": "1.0.0"}
    elif r < 0.7:
        doc["metadata"]["properties"] = [{"name": "spdx:document:name", "value": repo}]
    elif r < 0.8:
        doc["metadata"]["component"] = {"type": "application", "name": "", "bom-ref": repo}
    elif r < 0.87:
        doc["name"] = repo
    elif r < 0.99:
        doc["metadata"]["tools"] = [
            {"vendor": "x", "name": rng.choice(STOP_TOOLS), "version": "1"},
            {"vendor": "y", "name": f"scanner-{repo}", "version": "2"},
        ]
    # else: no provenance field; the file name stem is the source.
    doc["components"] = [
        _cdx_component(rng, u, name) for name in u.pick(rng, n_comp)
    ]
    return doc


def _spdx_doc(rng: random.Random, u: _Universe, n_pkg: int, name: str) -> dict:
    pkgs = []
    for i, pname in enumerate(u.pick(rng, n_pkg)):
        pkg = {
            "SPDXID": f"SPDXRef-P{i}",
            "name": pname,
            "versionInfo": rng.choice(u.versions[pname]),
            "externalRefs": [{
                "referenceCategory": rng.choice(["PACKAGE-MANAGER", "SECURITY", "OTHER", "PACKAGE_MANAGER"]),
                "referenceType": "purl",
                "referenceLocator": f"pkg:{u.eco[pname]}/{pname}",
            }],
        }
        r = rng.random()
        if r < 0.45:
            pkg["licenseConcluded"] = u.license[pname]
        elif r < 0.65:
            pkg["licenseDeclared"] = u.license[pname]
        pkgs.append(pkg)
    return {
        "spdxVersion": "SPDX-2.3",
        "SPDXID": "SPDXRef-DOCUMENT",
        "name": name,
        "documentNamespace": f"https://example.invalid/{name}",
        "packages": pkgs,
    }


def _dump(path: str, doc) -> int:
    text = doc if isinstance(doc, str) else json.dumps(doc, indent=1)
    with open(path, "w") as f:
        f.write(text)
    return len(text)


def write_merge_corpus(root: str, seed: int, n_docs: int = 400,
                       components_per_doc: int = 100) -> MergeCorpus:
    """Write the EP2 corpus under ``root/bucket`` and its license map
    beside it.  ``n_docs`` counts the CycloneDX documents the merge
    accepts; the files it must drop are added on top (about 15%)."""
    rng = random.Random(seed)
    u = _Universe(rng)
    repos = [f"org{i % 7}-service-{i}" for i in range(N_REPOS)]
    bucket = os.path.join(root, "bucket")
    os.makedirs(bucket, exist_ok=True)
    kinds: dict[str, int] = {}
    total = 0

    def put(kind: str, name: str, doc) -> None:
        nonlocal total
        kinds[kind] = kinds.get(kind, 0) + 1
        total += _dump(os.path.join(bucket, name), doc)

    for i in range(n_docs):
        n = max(1, int(rng.gauss(components_per_doc, components_per_doc / 4)))
        put("cyclonedx", f"sbom-{i:05d}.json", _cdx_doc(rng, u, repos, n))
    small = max(4, components_per_doc // 4)
    for i in range(max(1, n_docs // 20)):
        put("spdx", f"spdx-{i:05d}.json", _spdx_doc(rng, u, small, f"spdx-repo-{i}"))
    for i in range(max(1, n_docs // 30)):
        put("wrapped", f"gh-{i:05d}.json", {"sbom": _spdx_doc(rng, u, small, f"gh-repo-{i}")})
    for i in range(max(1, n_docs // 50)):
        text = json.dumps(_cdx_doc(rng, u, repos, small))
        put("invalid", f"broken-{i:05d}.json", text[: len(text) // 2])
    for i in range(max(1, n_docs // 50)):
        put("excluded", f"sbom-{i:05d}-draft.json", _cdx_doc(rng, u, repos, small))
    for i in range(max(1, n_docs // 50)):
        put("not_included", f"notes-{i:05d}.txt", _cdx_doc(rng, u, repos, small))
    put("output_key", OUTPUT_KEY, _cdx_doc(rng, u, repos, small))

    map_path = os.path.join(root, "license-mappings.json")
    _dump(map_path, u.license_map(rng))
    return MergeCorpus(bucket, map_path, sum(kinds.values()), total, kinds)


# ---- reference -----------------------------------------------------------

def _glob(pattern: str) -> re.Pattern:
    return re.compile("^" + "".join(
        ".*" if c == "*" else "." if c == "?" else re.escape(c) for c in pattern
    ) + "$")


def _nonempty(v):
    return v if v not in (None, "") else None


def _coalesce(*vals):
    return next((v for v in vals if v is not None), None)


def cdx_license(c: dict) -> str:
    """The CycloneDX license fallback chain."""
    lic = c.get("licenses")
    if lic:
        first = lic[0] or {}
        inner = first.get("license") or {}
        for v in (inner.get("id"), inner.get("name"), first.get("id"),
                  first.get("name"), first.get("expression")):
            if v is not None:
                return v
    for prop in ("spdx:license-concluded", "spdx:license-declared"):
        hits = [p for p in c.get("properties") or [] if p.get("name") == prop]
        if hits and hits[0].get("value") is not None:
            return hits[0]["value"]
    return UNKNOWN


def source_reference(doc: dict, filename: str) -> str:
    """The six-strategy provenance chain of a merge-mode document."""
    meta = doc.get("metadata") or {}
    s1 = next((p.get("value") for p in meta.get("properties") or []
               if p.get("name") == "spdx:document:name"), None)
    comp = meta.get("component") or {}
    tools = [t.get("name") for t in meta.get("tools") or []
             if t.get("name") is not None
             and not any(s in t["name"] for s in
                         ("GitHub.com-Dependency", "protobom", "CycloneDX", "cyclonedx-merge"))]
    stem = re.sub(r"\.json$", "", os.path.basename(filename))
    for cand in (s1, comp.get("name"), comp.get("bom-ref"), doc.get("name"),
                 tools[0] if tools else None, stem):
        if _nonempty(cand) is not None:
            return cand
    return UNKNOWN


def _load(path: str):
    try:
        with open(path) as f:
            return json.load(f)
    except ValueError:
        return None


def _patch(rows: list[tuple], mapping: dict[str, str]) -> tuple[list[tuple], int]:
    out, patched = [], 0
    for name, version, lic, source, purl in rows:
        if lic in (UNKNOWN, "", "null") and name in mapping:
            lic = mapping[name]
            patched += 1
        out.append((name, version, lic, source, purl))
    return out, patched


@dataclass
class Expected:
    """Rows a pipeline must emit, as (name, version, license, source, purl)."""

    rows: list[tuple]
    input_rows: int  # component rows entering dedup
    docs_accepted: int
    license_patched: int


def reference_merge(corpus: MergeCorpus) -> Expected:
    """EP2: filters → gate → provenance → explode → dedup → license map."""
    inc, exc = _glob(INCLUDE), _glob(EXCLUDE)
    best: dict[tuple, tuple[str, tuple]] = {}
    input_rows = docs = 0
    for fn in sorted(os.listdir(corpus.path)):
        if fn == OUTPUT_KEY or not inc.match(fn) or exc.match(fn):
            continue
        doc = _load(os.path.join(corpus.path, fn))
        if not isinstance(doc, dict):
            continue
        if doc.get("bomFormat") != "CycloneDX" and (doc.get("metadata") or {}).get("component") is None:
            continue
        docs += 1
        src = source_reference(doc, fn)
        for c in doc.get("components") or []:
            row = (
                _coalesce(c.get("name"), UNKNOWN),
                _coalesce(c.get("version"), UNKNOWN),
                cdx_license(c),
                _coalesce(c.get("source"), src),
                _coalesce(c.get("purl"), ""),
            )
            input_rows += 1
            key = (row[0], row[1], row[4], row[3])
            # The engine keeps the row whose JSON text sorts first.
            text = json.dumps(dict(zip(("name", "version", "license", "source", "purl"), row)),
                              separators=(",", ":"))
            if key not in best or text < best[key][0]:
                best[key] = (text, row)
    with open(corpus.license_map_path) as f:
        mapping = json.load(f)
    rows, patched = _patch([r for _, r in best.values()], mapping)
    return Expected(rows, input_rows, docs, patched)


def sorted_doc_components(rows: list[tuple]) -> list[dict]:
    """The merged document's component list: sorted on
    (name, version, purl, source, license), as the engine assembles it."""
    keyed = sorted(rows, key=lambda r: (r[0], r[1], r[4], r[3], r[2]))
    return [dict(name=r[0], version=r[1], license=r[2], source=r[3], purl=r[4]) for r in keyed]

#!/usr/bin/env python3
"""Self-evidencing leak scan (ADVICE r6 / VERDICT r7 #5).

Scans every tracked source/doc file in the repo for categories of
content that must never appear in a public, from-public-knowledge-only
build: non-public package imports, non-public URLs, cloud bucket URIs,
Slack links, credential-shaped strings, and suspicious environment
variables. Unlike the driver's LEAKCHECK.json artifact, the emitted
LEAKCHECK_LOCAL.json records WHEN it scanned and HOW MANY files it
covered, so each round's artifact proves a fresh scan of that round's
code.

Usage: python3 tools/leakcheck.py [repo_root]   (default: cwd)
Writes: <repo_root>/LEAKCHECK_LOCAL.json; exits 1 if any hit is found.
"""
import json, os, re, subprocess, sys, datetime

# Public namespaces/hosts this build legitimately references.
ALLOWED_IMPORT = re.compile(
    r"^(graft|java|javax|scala|org\.apache|org\.scalatest|org\.scalacheck|"
    r"com\.sun\.management|sun\.)")
ALLOWED_URL_HOST = re.compile(
    r"(github\.com|apache\.org|duckdb\.org|scala-lang\.org|example\.com|"
    r"bitcoin\.org|"  # public fixture payload (reference-shaped asset metadata)
    r"arxiv\.org|openreview\.net|wikipedia\.org|w3\.org|localhost)")

CATEGORIES = {
    # any import outside the allowlisted public namespaces
    "nonpublic-import": re.compile(r"^\s*import\s+([A-Za-z_][\w.]+)"),
    # URLs with a scheme://host
    "nonpublic-url": re.compile(r"https?://([\w.-]+)"),
    # scheme-LESS internal hostnames (the class the driver's gate catches
    # but a url-only regex misses — e.g. a coursier cache path embedding a
    # mirror host): any dotted name under known-internal zones, plus
    # infrastructure-service hostnames (artifactory/nexus/jfrog) anywhere.
    "internal-host": re.compile(
        r"\b[\w-]+(?:\.[\w-]+)*\.(?:ant\.dev|corp\.[\w-]+\.[a-z]{2,}|"
        r"internal(?:\.[a-z]{2,})?|intranet\.[a-z]{2,})\b|"
        r"\b(?:artifactory|nexus|jfrog)\.[\w-]+(?:\.[\w-]+)+\b", re.I),
    # cloud bucket URIs (s3://, gs://, wasb://, abfss://)
    "bucket-uri": re.compile(r"\b(?:s3a?|gs|wasbs?|abfss?)://[\w./-]+"),
    # slack links / channel mentions
    "slack-link": re.compile(r"slack\.com|app\.slack|#[a-z0-9-]*slack", re.I),
    # credential-shaped strings (AWS key ids, slack/openai-style tokens,
    # PEM headers, long hex "secret"/"token" assignments)
    "api-key": re.compile(
        r"AKIA[0-9A-Z]{16}|xox[baprs]-[\w-]{10,}|sk-[A-Za-z0-9]{20,}|"
        r"BEGIN (?:RSA |EC )?PRIVATE KEY|"
        r"(?:secret|token|apikey|api_key)\s*[:=]\s*['\"][A-Za-z0-9+/]{24,}"),
    # environment variables outside the documented public surface
    "env-var": re.compile(r"""(?:sys\.env|getenv|environ)[^\n]*?["']([A-Z][A-Z0-9_]{2,})["']"""),
}
ALLOWED_ENV = {
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_VERIFY_PAR",
    "SPARK_DRIVER_MEM", "GRAFT_EXPLAIN", "COURSIER_MODE", "PATH", "HOME", "UTF",
}
# Package ROOTS that mark a real external dependency; imports whose first
# segment is a local value (spark.implicits._, media.sparkSession...) or a
# sibling class are not package imports and carry no leak signal.
PACKAGE_ROOTS = {"com", "org", "net", "io", "ai", "co", "cloud", "corp",
                 "internal", "dev", "edu", "gov", "mil", "us", "uk", "de"}
SCAN_EXT = {".scala", ".sbt", ".py", ".md", ".sh", ".json", ".sql", ".conf"}
# Driver-written artifacts (judge/advisor/gate output). These may QUOTE a
# finding verbatim (e.g. VERDICT.md citing the hostname it flagged); they
# are inputs to this build, not content it publishes.
DRIVER_ARTIFACTS = re.compile(
    r"^(VERDICT|ADVICE|BASELINE|TESTDATA|PAPERS|SNIPPETS)\.(md|json)$|"
    r"^(LEAKCHECK|LEAKCHECK_LOCAL|COPYCHECK|CORRECTNESS_r\d+|BENCH_r\d+)\.json$")


def hits_in(path: str, text: str):
    out = []
    for lineno, line in enumerate(text.splitlines(), 1):
        for cat, rx in CATEGORIES.items():
            for m in rx.finditer(line):
                val = m.group(1) if m.groups() else m.group(0)
                if cat == "nonpublic-import" and (
                        ALLOWED_IMPORT.match(val)
                        or val.split(".")[0] not in PACKAGE_ROOTS):
                    continue
                if cat == "nonpublic-url" and ALLOWED_URL_HOST.search(val):
                    continue
                if cat == "env-var" and val in ALLOWED_ENV:
                    continue
                if cat == "bucket-uri" and "example" in line.lower():
                    # documented connector examples (gs://bucket/... doc text)
                    continue
                out.append({"file": path, "line": lineno, "category": cat,
                            "match": val[:120]})
    return out


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    files = subprocess.run(["git", "-C", root, "ls-files"], capture_output=True,
                           text=True, check=True).stdout.split()
    scanned, all_hits = 0, []
    for f in files:
        if os.path.splitext(f)[1] not in SCAN_EXT:
            continue
        if DRIVER_ARTIFACTS.match(os.path.basename(f)):
            continue
        p = os.path.join(root, f)
        try:
            text = open(p, encoding="utf-8", errors="replace").read()
        except OSError:
            continue
        scanned += 1
        all_hits.extend(hits_in(f, text))
    by_cat = {c: [h for h in all_hits if h["category"] == c] for c in CATEGORIES}
    artifact = {
        "scanned_at": datetime.datetime.now(datetime.timezone.utc)
            .isoformat(timespec="seconds"),
        "files_scanned": scanned,
        "n_hits": len(all_hits),
        "hits": by_cat,
    }
    out = os.path.join(root, "LEAKCHECK_LOCAL.json")
    with open(out, "w") as fh:
        json.dump(artifact, fh, indent=2)
    print(f"[leakcheck] scanned {scanned} files, {len(all_hits)} hits -> {out}")
    for h in all_hits[:40]:
        print(f"  {h['category']}: {h['file']}:{h['line']}: {h['match']}")
    sys.exit(1 if all_hits else 0)


main()

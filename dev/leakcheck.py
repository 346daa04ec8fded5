#!/usr/bin/env python3
"""Repo-side leak scan with a verifiable freshness stamp.

The driver runs its own LEAKCHECK per round, but its artifact carries no
timestamp or scanned-file count, so a clean result is not provably a
fresh run (round-9/10 advice). This scanner is the repo's own audit of
the same smell categories, and its output records WHEN it ran and HOW
MANY files it read — a stale or truncated scan is self-evident.

Categories are generic proprietary-smell patterns (no internal names are
hardcoded here — that would itself be a leak):
  - import of any package outside the declared public allowlist
  - URLs outside public hosts (apache.org, github.com, ...)
  - cloud bucket URIs (s3:// gs:// abfss://)
  - API-key-shaped strings (long high-entropy tokens after key-ish names)
  - chat/shortlink references (slack.com, go/<word> shortlinks)
  - environment variables outside the documented SPARK_GRAFT_* surface

Usage: python3 dev/leakcheck.py [out.json]   (default LEAKCHECK_local.json)
Exit code 1 when any hit is found.
"""
import json
import re
import subprocess
import sys
import time

# Scala: a leak would import a rooted proprietary package (com.x, io.x,
# ...). Local stable-identifier imports (spark.implicits._, Foo.Bar) are
# not packages and never flagged. Python (dev/ scripts): allowlist of
# stdlib + the driver-documented analysis libs.
JVM_PKG = re.compile(
    r"^\s*import\s+(?!(org\.apache\.|org\.json4s|org\.scalatest|"
    r"org\.scalacheck))(com|org|io|net|ai|co|dev|internal)\.\S+")
PY_ALLOW = {"json", "re", "sys", "subprocess", "time", "os", "argparse",
            "pathlib", "math", "collections", "glob", "hashlib", "struct",
            "duckdb", "pandas", "pyarrow", "numpy"}
PY_PKG = re.compile(r"^\s*(?:import|from)\s+([A-Za-z_][A-Za-z0-9_]*)")
PUBLIC_URL_HOSTS = (
    "apache.org", "github.com", "spark.apache.org", "scala-lang.org",
    "localhost", "127.0.0.1", "example.com", "w3.org", "duckdb.org",
    "arxiv.org", "scala-sbt.org",
)
URL = re.compile(r"https?://([A-Za-z0-9.-]+)")
BUCKET = re.compile(r"\b(s3|s3a|gs|abfss|wasbs)://[^\s\"']+")
API_KEY = re.compile(r"(?i)(api[_-]?key|secret|token)\W{0,3}[A-Za-z0-9+/_-]{24,}")
CHAT = re.compile(r"(?i)(slack\.com|\bgo/[a-z][a-z0-9-]{2,})")
# sys.env("X"), sys.env.getOrElse("X", ...), .get/.contains("X"), getenv("X")
ENV = re.compile(
    r"(?:sys\.env(?:\.(?:getOrElse|get|contains))?|getenv)\(\s*[\"']([A-Z0-9_]+)[\"']")
PUBLIC_ENV = {"SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_REPS",
              "SPARK_GRAFT_SCALING", "SPARK_GRAFT_QUIET_WAIT_SEC",
              "SPARK_DRIVER_MEM"}


def scan(path, text):
    hits = []
    is_py = path.endswith(".py")
    for i, line in enumerate(text.splitlines(), 1):
        if is_py:
            m = PY_PKG.match(line)
            if m and m.group(1) not in PY_ALLOW:
                hits.append(("nonpublic-import", f"{path}:{i}", line.strip()[:120]))
        elif JVM_PKG.match(line):
            hits.append(("nonpublic-import", f"{path}:{i}", line.strip()[:120]))
        for m in URL.finditer(line):
            host = m.group(1)
            if not any(host == h or host.endswith("." + h) for h in PUBLIC_URL_HOSTS):
                hits.append(("nonpublic-url", f"{path}:{i}", host))
        if BUCKET.search(line):
            hits.append(("cloud-bucket", f"{path}:{i}", line.strip()[:120]))
        if API_KEY.search(line):
            hits.append(("api-key-shaped", f"{path}:{i}", line.strip()[:120]))
        if CHAT.search(line):
            hits.append(("chat-or-shortlink", f"{path}:{i}", line.strip()[:120]))
        for m in ENV.finditer(line):
            if m.group(1) not in PUBLIC_ENV:
                hits.append(("undocumented-env", f"{path}:{i}", m.group(1)))
    return hits


def main():
    out_path = sys.argv[1] if len(sys.argv) > 1 else "LEAKCHECK_local.json"
    files = subprocess.run(
        ["git", "ls-files", "src", "dev", "build.sbt", "project"],
        capture_output=True, text=True, check=True).stdout.split()
    all_hits = []
    scanned = 0
    for f in files:
        if f == "dev/leakcheck.py":  # the pattern definitions self-match
            continue
        try:
            text = open(f, encoding="utf-8", errors="replace").read()
        except OSError:
            continue
        scanned += 1
        all_hits.extend(scan(f, text))
    by_cat = {}
    for cat, loc, snippet in all_hits:
        by_cat.setdefault(cat, []).append({"loc": loc, "snippet": snippet})
    report = {
        "scanned_at_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "scanned_files": scanned,
        "n_hits": len(all_hits),
        "hits": by_cat,
    }
    with open(out_path, "w") as fh:
        json.dump(report, fh, indent=2)
        fh.write("\n")
    print(f"[leakcheck] {scanned} files, {len(all_hits)} hits -> {out_path}")
    sys.exit(1 if all_hits else 0)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Cross-engine float-discipline lint (dev tool, r11 verdict #7).

The sf1 rehearsal codified two cross-engine float divergence classes
(FIXTURES.md C4/C5):

  C4  raw two-arg round(x, k), or the one-arg Scala round6(x) that computes
      Spark's round(x, 6) inside a udf, where x is an EXACT-integer-like
      quotient (counts, sizes, cents): x*10^k can land on an exact k-dp tie, and
      Spark (shortest-decimal-repr HALF_UP) and DuckDB (float multiply)
      round such ties differently. The discipline is Det.detRound /
      Det.sqlDetRound — round(x*10^k)/10^k + 0.0 spelled on BOTH sides.
      Quotients involving irrational-ish math (sqrt/ln/avg/stddev) or the
      2dp money/double columns cannot land on exact ties and are exempt.

  C5  CAST(SUM(DECIMAL...) AS DOUBLE): past 2^53 of scaled value DuckDB's
      int128-through-double cast is an ulp off Spark's correctly-rounded
      BigDecimal cast. The discipline is rounding money sums to cents
      (13-digit scaled integers) BEFORE the cast.

Every site matching either shape must be in tools/float_lint_allow.json —
the allowlist is the set of sites AUDITED by the full sf1 gate (328/0,
SF1_GATE.log); a new unexplained hit means a new query skipped the
discipline and fails the lint. Sites are keyed by (file, class,
whitespace-normalized argument text), so unrelated edits don't churn them.

Usage:
  python3 tools/float_lint.py            # lint; exit 1 on unexplained hits
  python3 tools/float_lint.py --accept   # snapshot current hits as audited
"""
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ALLOW = os.path.join(REPO, "tools", "float_lint_allow.json")

# expressions that make an exact k-dp tie practically impossible: irrational
# functions, statistical aggregates, and the generator's 2dp double columns
MESSY = re.compile(
    r"sqrt|ln\(|log|exp\(|pow|stddev|avg\(|corr|variance|"
    r"acctbal|totalprice|extendedprice|retailprice|discount|"
    r"l_tax|random|rand\(|cos|sin|atan|pi\(\)", re.I)


def balanced(s, i):
    """Return end index of the balanced paren region starting at s[i]=='('."""
    depth, j = 1, i + 1
    while depth > 0 and j < len(s):
        if s[j] == "(":
            depth += 1
        elif s[j] == ")":
            depth -= 1
        j += 1
    return j


def top_level_comma(body):
    depth = 0
    for ch in body:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            return True
    return False


def scan():
    hits = []
    for f in sorted(glob.glob(f"{REPO}/src/main/scala/graft/**/*.scala",
                              recursive=True)):
        rel = os.path.relpath(f, REPO)
        s = open(f).read()
        for m in re.finditer(r"round(6?)\(", s):
            j = balanced(s, m.end() - 1)
            body = s[m.end():j - 1]
            # round(x, k) takes two arguments, round6(x) one
            if (top_level_comma(body) != bool(m.group(1)) and "/" in body
                    and not MESSY.search(body)):
                line = s[:m.start()].count("\n") + 1
                hits.append({"file": rel, "class": "C4-exact-quotient-round",
                             "site": " ".join(body.split()), "line": line})
        for m in re.finditer(r"CAST\s*\(\s*SUM\s*\(", s, re.I):
            j = balanced(s, m.end() - 1)
            inner = s[m.start():j]
            rest = s[j:j + 40]
            if ("DECIMAL" in inner.upper()
                    and re.match(r"\s*AS\s+DOUBLE", rest, re.I)):
                line = s[:m.start()].count("\n") + 1
                hits.append({"file": rel, "class": "C5-decimal-sum-to-double",
                             "site": " ".join(inner.split()), "line": line})
    return hits


def key(h):
    return (h["file"], h["class"], h["site"])


def main():
    hits = scan()
    if "--accept" in sys.argv:
        json.dump(hits, open(ALLOW, "w"), indent=1)
        print(f"allowlist <- {len(hits)} audited sites")
        return 0
    allowed = ({key(h) for h in json.load(open(ALLOW))}
               if os.path.exists(ALLOW) else set())
    new = [h for h in hits if key(h) not in allowed]
    gone = allowed - {key(h) for h in hits}
    for h in new:
        print(f"UNAUDITED {h['class']} {h['file']}:{h['line']}\n"
              f"  {h['site'][:120]}\n"
              f"  -> use Det.detRound/sqlDetRound (C4) or round-to-cents-"
              f"before-cast (C5), or re-run the oracle gate at sf1 and "
              f"--accept")
    if gone:
        print(f"note: {len(gone)} allowlisted site(s) no longer present "
              f"(run --accept to compact)")
    print(f"float-lint: {len(hits)} sites, {len(new)} unexplained")
    return 1 if new else 0


if __name__ == "__main__":
    sys.exit(main())

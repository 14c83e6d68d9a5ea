#!/usr/bin/env python3
"""Keep SURVEY.md's machine-readable CONTRACT line in step with the source.

SurveyContractSpec checks `survey_rows` and `sbt_tests_passed` in the line
`<!-- CONTRACT: registered_queries=N survey_rows=N sbt_tests_passed=N -->`.
This script recomputes both with the spec's own regexes and writes them
into the line; `registered_queries` needs a JVM and is left as it is.

Usage (from the repo root):
  python3 tools/contract.py           # rewrite the CONTRACT line in place
  python3 tools/contract.py --check   # exit 1 if the line has drifted
"""
import pathlib
import re
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
SURVEY = ROOT / "SURVEY.md"
TEST_DIR = ROOT / "src" / "test" / "scala" / "graft"
CONTRACT = re.compile(r"<!-- CONTRACT: registered_queries=(\d+) "
                      r"survey_rows=(\d+) sbt_tests_passed=(\d+) -->")


def survey_rows(survey):
    # SurveyContractSpec: "(?m)^\| (\d+) \|" over the text between
    # "## §2" and "## §3"
    sec2 = survey.split("## §2")[1].split("## §3")[0]
    return len(re.findall(r"(?m)^\| (\d+) \|", sec2))


def tests_defined():
    # SurveyContractSpec: '(?m)^\s*(test|property)\("' over every
    # .scala file directly under src/test/scala/graft
    pat = re.compile(r'(?m)^\s*(test|property)\("')
    return sum(len(pat.findall(p.read_text(encoding="utf-8")))
               for p in sorted(TEST_DIR.glob("*.scala")))


def main():
    check = sys.argv[1:] == ["--check"]
    if sys.argv[1:] not in ([], ["--check"]):
        sys.exit(__doc__)
    survey = SURVEY.read_text(encoding="utf-8")
    m = CONTRACT.search(survey)
    if m is None:
        sys.exit("SURVEY.md has no CONTRACT line")
    rows, tests = survey_rows(survey), tests_defined()
    line = (f"<!-- CONTRACT: registered_queries={m.group(1)} "
            f"survey_rows={rows} sbt_tests_passed={tests} -->")
    if line == m.group(0):
        print(f"contract ok: survey_rows={rows} sbt_tests_passed={tests}")
        return
    if check:
        print(f"contract drift: SURVEY.md has\n  {m.group(0)}\n"
              f"the source gives\n  {line}\n"
              "run: python3 tools/contract.py", file=sys.stderr)
        sys.exit(1)
    SURVEY.write_text(survey[:m.start()] + line + survey[m.end():],
                      encoding="utf-8")
    print(f"rewrote: {line}")


if __name__ == "__main__":
    main()

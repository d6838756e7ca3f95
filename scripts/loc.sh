#!/usr/bin/env bash
# Code and comment line counts of src/main/**/*.scala.
#
#   scripts/loc.sh          # counts of the working tree
#   scripts/loc.sh <rev>    # the same, plus the counts at <rev> and the difference
#
# Blank lines are left out. A comment line is one whose first non-blank
# characters are `//`, `/*` or `*`; every other non-blank line is code.
set -euo pipefail
cd "$(dirname "$0")/.."

# Reads Scala source on stdin, prints "<code> <comment>".
count() {
  awk '
    /^[[:space:]]*$/ { next }
    /^[[:space:]]*(\/\/|\/\*|\*)/ { comment++; next }
    { code++ }
    END { printf "%d %d\n", code, comment }'
}

tree_counts() {
  find src/main -name '*.scala' -type f -print0 | sort -z | xargs -0 cat | count
}

rev_counts() {
  git archive "$1" -- src/main | tar -xO --wildcards '*.scala' | count
}

read -r code comment < <(tree_counts)
if [ $# -eq 0 ]; then
  printf 'code %d  comments %d\n' "$code" "$comment"
  exit 0
fi

rev="$1"
git rev-parse --verify --quiet "$rev^{commit}" >/dev/null || { echo "loc.sh: unknown rev '$rev'" >&2; exit 2; }
read -r rcode rcomment < <(rev_counts "$rev")
printf '%-10s code %6d  comments %6d\n' "$(git rev-parse --short "$rev")" "$rcode" "$rcomment"
printf '%-10s code %6d  comments %6d\n' "tree" "$code" "$comment"
printf '%-10s code %+6d  comments %+6d\n' "diff" "$((code - rcode))" "$((comment - rcomment))"

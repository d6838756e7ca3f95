#!/usr/bin/env bash
# Code and comment line counts of the Scala sources under src/main, or under
# the given paths.
#
#   scripts/loc.sh                  # counts of the working tree
#   scripts/loc.sh <rev>            # the same, plus the counts at <rev> and the difference
#   scripts/loc.sh [rev] <path...>  # only the .scala files under these files or directories
#
# Blank lines are left out. A comment line is one whose first non-blank
# characters are `//`, `/*` or `*`; every other non-blank line is code. A
# path missing on one side counts as empty there.
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

rev=""
if [ $# -gt 0 ] && git rev-parse --verify --quiet "$1^{commit}" >/dev/null; then
  rev="$1"; shift
fi
paths=("${@:-src/main}")
for p in "${paths[@]}"; do
  if [ ! -e "$p" ] && { [ -z "$rev" ] || ! git cat-file -e "$rev:${p%/}" 2>/dev/null; }; then
    echo "loc.sh: unknown rev or path '$p'" >&2; exit 2
  fi
done

tree_counts() {
  local present=()
  for p in "${paths[@]}"; do [ -e "$p" ] && present+=("$p"); done
  if [ ${#present[@]} -eq 0 ]; then echo "0 0"; return; fi
  find "${present[@]}" -name '*.scala' -type f -print0 | sort -z | xargs -0 -r cat | count
}

rev_counts() {
  local present=()
  for p in "${paths[@]}"; do git cat-file -e "$rev:${p%/}" 2>/dev/null && present+=("$p"); done
  if [ ${#present[@]} -eq 0 ]; then echo "0 0"; return; fi
  { git archive "$rev" -- "${present[@]}" | tar -xO --wildcards '*.scala' 2>/dev/null || true; } | count
}

read -r code comment < <(tree_counts)
if [ -z "$rev" ]; then
  printf 'code %d  comments %d\n' "$code" "$comment"
  exit 0
fi

read -r rcode rcomment < <(rev_counts)
printf '%-10s code %6d  comments %6d\n' "$(git rev-parse --short "$rev")" "$rcode" "$rcomment"
printf '%-10s code %6d  comments %6d\n' "tree" "$code" "$comment"
printf '%-10s code %+6d  comments %+6d\n' "diff" "$((code - rcode))" "$((comment - rcomment))"

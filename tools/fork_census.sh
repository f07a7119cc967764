#!/usr/bin/env bash
# Count the child processes a command starts through chmod, ls, stat, chown
# and bash -- the programs Hadoop's local FileSystem forks when the native
# Hadoop library is not loaded.
#
#   tools/fork_census.sh [--root NAME] <command...>
#
# Logging wrappers for those programs go first on PATH; the command runs
# with that PATH (its stdout and exit status are passed through) and the
# census is printed to stderr: counts per program, then per program and
# output subtree. A subtree is the directory holding the path the program
# acted on, cut to its first two components below the last path component
# named NAME (default: below the current directory; a path outside it
# keeps its leading `/`); digits in `=N` values and all-digit components
# read as N. Example, one traced benchmark run:
#
#   tools/fork_census.sh --root out \
#     python3 perfbench/run.py --workload cdr_stream --seed 1 --trace 1
set -euo pipefail

root=""
if [ "${1:-}" = "--root" ]; then root="$2"; shift 2; fi
[ $# -gt 0 ] || { echo "usage: $0 [--root NAME] <command...>" >&2; exit 2; }

dir=$(mktemp -d)
trap 'rm -rf "$dir"' EXIT
mkdir "$dir/bin"
log="$dir/forks.tsv"
: > "$log"
for prog in chmod ls stat chown bash; do
  real=$(command -v "$prog") || continue
  cat > "$dir/bin/$prog" <<EOF
#!/bin/sh
last=
for a; do last=\$a; done
printf '%s\t%s\n' $prog "\$last" >> "$log"
exec "$real" "\$@"
EOF
  chmod +x "$dir/bin/$prog"
done

status=0
PATH="$dir/bin:$PATH" "$@" || status=$?

awk -F'\t' -v root="$root" -v cwd="$PWD" '
  function subtree(p,   i, off, n, c, j, key, cut) {
    if (substr(p, 1, 1) != "/") return "(no path)"
    if (root != "") {
      off = 0  # cut below the LAST component named root
      while ((i = index(substr(p, off + 1), "/" root "/")) > 0)
        off += i + length(root) + 1
      if (cut = off > 0) p = substr(p, off + 1)
    } else if (cut = index(p, cwd "/") == 1) p = substr(p, length(cwd) + 2)
    if (!cut) p = substr(p, 2)
    n = split(p, c, "/")
    key = ""
    for (j = 1; j < n && j <= 2; j++) {
      if (c[j] == "") continue
      if (c[j] ~ /^[0-9]+$/) c[j] = "N"
      gsub(/=[0-9]+/, "=N", c[j])
      key = key (key == "" ? "" : "/") c[j]
    }
    return cut ? (key == "" ? "." : key) : "/" key
  }
  { total++; prog[$1]++; sub_[$1 "\t" subtree($2)]++ }
  END {
    printf "fork census: %d forks\n", total
    for (p in prog) printf "  %-6s %7d\n", p, prog[p] | "sort -k2,2nr"
    close("sort -k2,2nr")
    print "by program and subtree:"
    for (k in sub_) { split(k, a, "\t"); printf "  %-6s %7d  %s\n", a[1], sub_[k], a[2] | "sort -k2,2nr" }
    close("sort -k2,2nr")
  }' "$log" >&2

exit "$status"

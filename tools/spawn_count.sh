#!/bin/bash
# Count the chmod, readlink, ls and stat processes a command spawns.
#
#   tools/spawn_count.sh [-l LOG] COMMAND [ARG...]
#
# Runs COMMAND with a directory of logging wrappers first on PATH: each
# wrapper appends "<uptime seconds> <name> <args>" to the log and then
# execs the real binary, so COMMAND behaves as without the wrappers (one
# extra bash per call). The time is /proc/uptime's, the boot-time clock
# that a JVM's System.nanoTime also reads on Linux (unless the host has
# suspended), so log lines can be matched to nanoTime spans. Hadoop's
# local file system, without its native library, forks `chmod` for a
# permission change, `readlink` for a link status and `ls`/`stat` for a
# permission read; a JVM finds them on PATH.
# After COMMAND exits, prints one "<name> <count>" line per wrapped command
# and a "total <count>" line on stderr, and exits with COMMAND's status.
# -l keeps the log at LOG (default: a temporary file, removed on exit).
set -u
log=""
if [ "${1:-}" = "-l" ]; then log="$2"; shift 2; fi
if [ $# -eq 0 ]; then
  echo "usage: $0 [-l LOG] COMMAND [ARG...]" >&2
  exit 2
fi
wrap="$(mktemp -d)"
trap 'rm -rf "$wrap"' EXIT
[ -n "$log" ] || log="$wrap/spawns.log"
: > "$log"
names="chmod readlink ls stat"
for c in $names; do
  real="$(command -v "$c")" || { echo "$0: $c not on PATH" >&2; exit 2; }
  cat > "$wrap/$c" <<EOF
#!/bin/bash
read -r up _ < /proc/uptime
printf '%s %s %s\n' "\$up" "$c" "\$*" >> "$log"
exec "$real" "\$@"
EOF
  chmod +x "$wrap/$c"
done
PATH="$wrap:$PATH" "$@"
status=$?
total=0
for c in $names; do
  n="$(awk -v c="$c" '$2 == c' "$log" | wc -l)"
  total=$((total + n))
  printf '%s %d\n' "$c" "$n" >&2
done
printf 'total %d\n' "$total" >&2
exit "$status"

# Launch counter for piped executables in the traced run:
#   sh count_exec.sh <counter-file> <executable> [args...]
# appends one line to the counter file, then replaces itself with the
# executable, so stdin/stdout and the exit code are the executable's.
counter=$1
shift
echo x >> "$counter"
exec "$@"

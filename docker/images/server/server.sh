#!/bin/bash
# Run ONE resident SearchServer and expose it to clients. Two gateway
# protocols, selected by GRAFT_PROTOCOL:
#
#  - http (default): the JVM's own REST face (graft.search.HttpSearchServer)
#    — the wire shape a reference client speaks (bin/search.py issues
#    GET /<bucket>?search=<urlencoded where> and reads a JSON array;
#    POST /search takes the line-protocol JSON object). Requests run on a
#    pool of one handler thread per core over the warm session inside the
#    JVM; no sidecar needed.
#  - line: the stdin/stdout-JSONL protocol fronted by socat — one request
#    line per connection, answered with one response line, connections
#    serialized on a lock (kept for gateways that already speak it).
#
# Either way all connections multiplex onto the same warm process, so the
# per-bucket snapshot cache amortizes across every client: each bucket's
# merge is published once per state of its files to the snapshot zone and
# cached, a warm search needs no merge, and superseded zone files stay for
# spark.graft.derived.purgeGraceMs after they are superseded, so running
# requests finish on them. The zone lives under the process's private temp
# root, removed on exit; to keep snapshots across restarts, set
# GRAFT_JAVA_OPTS="-Dspark.graft.derived.dir=<durable dir>" (bin/common.sh
# passes it to java, and Spark reads spark.* system properties). The reference
# achieves the same with Livy fronting its resident MetadataQueryExecutor
# (clueso-docker-livy/entrypoint.sh).
#
# Port 8998 is Livy's default — kept so a reference deployment's gateway
# config ports over unchanged.
set -eo pipefail

PORT="${GRAFT_SERVER_PORT:-8998}"
TTL="${GRAFT_CACHE_TTL_MS:-60000}"
PROTOCOL="${GRAFT_PROTOCOL:-http}"

if [ "$PROTOCOL" = "http" ]; then
  exec /graft/bin/search-server.sh --http "$PORT" \
    /zones/landing /zones/staging "$TTL"
fi

mkdir -p /graft/run
PIPE_IN=/graft/run/server.in
PIPE_OUT=/graft/run/server.out
LOCK=/graft/run/server.lock
rm -f "$PIPE_IN" "$PIPE_OUT"
mkfifo "$PIPE_IN" "$PIPE_OUT"

# the resident executor (blocks opening the fifos until the execs below
# provide the peer ends)
/graft/bin/search-server.sh /zones/landing /zones/staging "$TTL" \
  < "$PIPE_IN" > "$PIPE_OUT" &
SERVER_PID=$!

# hold both fifos open for the server's whole life: fd 3 keeps the
# server's stdin from EOF-ing when a per-connection writer closes; fd 4
# keeps a reader on its stdout so responses never EPIPE between
# connections (fd 4 is never read from — per-connection readers get the
# data)
exec 3> "$PIPE_IN" 4< "$PIPE_OUT"

trap 'kill $SERVER_PID 2>/dev/null || true' TERM INT

# each accepted connection: take the lock, feed the request line to the
# warm backend, return exactly one response line; time-bounded so a hung
# query can't wedge the gateway
socat TCP-LISTEN:"$PORT",reuseaddr,fork \
  SYSTEM:"flock $LOCK timeout 300 sh -c 'head -1 > $PIPE_IN && head -1 $PIPE_OUT'" &

wait $SERVER_PID

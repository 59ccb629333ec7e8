#!/bin/bash
# tools/run_main.sh with a 48g default heap: tools/java_run.sh <mainClass> [args...]
GRAFT_XMX=${GRAFT_XMX:-48g} exec "$(dirname "${BASH_SOURCE[0]}")/run_main.sh" "$@"

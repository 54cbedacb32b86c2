#!/usr/bin/env bash
# Code-line count of the Scala sources under the given paths (default: this
# repo's src/main/scala): non-blank lines that do not start with a line
# comment (//), a block comment (/*) or a scaladoc continuation (*).
#   tools/loc.sh
#   tools/loc.sh src/main/scala/vfsidx/build src/test/scala
set -euo pipefail
[ $# -gt 0 ] || set -- "$(dirname "$0")/../src/main/scala"
find "$@" -name '*.scala' | sort | xargs cat | grep -v '^\s*$' | grep -vE '^\s*(//|\*|/\*)' | wc -l

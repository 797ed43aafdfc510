#!/usr/bin/env bash
# Main LoC: non-blank, non-comment lines of src/main/scala/**/*.scala.
# A line counts unless it is blank or, after leading whitespace, starts
# with `//`, `/*` or `*` (scaladoc and block-comment bodies).
# Usage: tools/loc.sh [repo-root]   (default: the checkout this script is in)
set -euo pipefail
root="${1:-$(cd "$(dirname "$0")/.." && pwd)}"
find "$root/src/main/scala" -name '*.scala' -print0 \
  | xargs -0 cat \
  | grep -cvE '^[[:space:]]*($|//|/\*|\*)'

#!/usr/bin/env bash
# Compile gate before any source commit (round-13 lesson: a snapshot
# commit containing one uncompiled file zeroed the round's entire
# correctness/bench signal). Usage: tools/precommit.sh [--smoke|--plans]
#   default  : sbt compile + Test/compile must both succeed
#   --smoke  : additionally runs twenty-six sf0.001 pc_* queries
#              through Verify and checks them against their DuckDB
#              oracle: over the 2D store the catalog row, a bbox, a large
#              bbox that reads many blocks, an empty bbox, a bbox with
#              maxz and one with minz, a circle, polygons with one and
#              two holes, a polyline buffer, the single and batch kNN
#              (so every prepared-selection shape has an oracle row) and
#              the block histogram (which reads the stored tail length),
#              the box, z slice, cylinder, polygon prism and kNN over the
#              3D store (every 3D prepared-selection shape) and its voxel
#              counts (every stored block, outside a selection), and the
#              seven LAS/LAZ sink -> scan roundtrips (LAS, LAZ pf0,
#              pointwise v1, extra bytes, pf5 wave, layered pf8 and pf9
#              wave). The
#              stores are imported by the code under test whenever
#              PointCloud.LayoutVersion moves.
#   --plans  : additionally regenerates the plan-fingerprint board at
#              sf0.01 and diffs it against the committed round board —
#              a lost pushdown / strategy flip / new exchange fails
#              here instead of hiding in bench noise (VERDICT r18
#              item 1). Deliberate plan changes: rerun check_plans.py
#              by hand with --allow and commit the regenerated board
#              with a PLANS.md row.
set -euo pipefail
cd "$(dirname "$0")/.."
sbt -batch compile Test/compile
if [[ "${1:-}" == "--smoke" ]]; then
  rm -rf /tmp/precommit_smoke
  SPARK_GRAFT_ONLY=pc_metadata,pc_bbox_small,pc_bbox_large,pc_bbox_empty,pc_bbox_maxz,pc_bbox_minz,pc_poly_2holes,pc_circle,pc_poly_hole,pc_polyline_buffer,pc_knn,pc_knn_batch,pc_histogram,pc_bbox3d,pc_zslice,pc_cylinder,pc_poly_3d,pc_knn_3d,pc_voxel_counts,pc_las_roundtrip,pc_laz_roundtrip,pc_laz_v1_roundtrip,pc_laz_extra,pc_laz_wave_roundtrip,pc_laz14_roundtrip,pc_laz14_wave_roundtrip sbt -batch \
    'runMain graft.Verify /root/testdata/sf0.001 /tmp/precommit_smoke'
  python3 tools/check_oracle.py /root/testdata/sf0.001 /tmp/precommit_smoke
fi
if [[ "${1:-}" == "--plans" ]]; then
  board=$(ls artifacts/PLAN_BOARD_r*.json | sort -V | tail -1)
  sbt -batch 'runMain graft.tools.DumpPlans /root/testdata/sf0.01 /tmp/precommit_plans.json'
  python3 tools/check_plans.py /tmp/precommit_plans.json "$board"
fi
echo "precommit: green"

"""DataFrame-level operators (SURVEY.md §2). Each module maps one family:

- ``asof``: J1/J2 point-in-time / as-of join strategies + J4 salting
- ``windows``: W1-W6 lag/lead, rolling aggregates, backfill fill, sessionize
- ``dedupe``: P6/A1 exact dedupe + MinHash-LSH / SimHash near-dup +
  connected components (min-label and large/small-star)
- ``similarity``: embedding cosine top-k (brute force + LSH-bucketed)
- ``text``: V1/V2 vectorized extraction + text-analysis kernels
- ``skew``: hot-key detection + two-phase salted aggregation
- ``vectorized``: grouped-map / grouped-agg / mapInArrow kernels
- ``multimodal``: binary payload metadata/decode/frame plumbing
- ``sampling``: deterministic stratified sampling, hash splits, packing
- ``sketches``: mergeable HLL rollups + Count-Min heavy hitters
"""

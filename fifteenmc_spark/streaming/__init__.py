from . import stateful, windows  # noqa: F401

# the other modules (dedup, near_dup, minhash_lsh, span_dedup, ann,
# pq_ann) are imported at use: consumers import the module they need

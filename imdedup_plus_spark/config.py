"""Engine configuration and reference-parity constants.

The reference (DDDCai/imDedup_plus) computes, per image, ``FEATURE_NUM``
max-hash features over a sliding window of the Feature Bitmap using the
linear-congruential permutations ``k_index[m] * h + b_index[m]``
(``/root/reference/2df.c:230-247``), then groups ``FEA_PER_SF`` features
into ``SF_NUM`` super-features by summation (``/root/reference/2df.c:400-419``).
The canonical run config is ``sf_num=8 sf_component_num=1 block_size=2``
(``/root/reference/script/run.sh:10-11``).

This engine recasts those semantics over web text:

* document -> tokens -> ``shingle_window``-gram shingle hashes (analog of the
  per-block sliding window, ``/root/reference/2df.c:190-247``);
* per permutation m: feature_m = **max** over shingles of
  ``(k_m * s + b_m) mod P``  (max-hash, parity with ``2df.c:232-247``);
* band digest (super-feature) = **sum** of the band's features
  (parity with ``2df.c:409-411``), with ``rows_per_band = sf_component_num``.

All arithmetic is deliberately restricted to non-negative values < 2**62 so
that the *identical* computation is expressible both as Spark built-in
higher-order functions (JVM-side, no Python in the hot path) and as ANSI SQL
runnable by DuckDB — this is what makes the operator-level oracle checks
bit-exact.

The 64-bit permutation constants below are lifted verbatim from
``/root/reference/2df.c:36-72`` (public GPL source); per-permutation
multipliers/offsets are derived as ``k mod P`` / ``b mod P`` with ``P =
2**31 - 1`` so products stay below 2**62 (BIGINT-safe in both engines).
"""

from __future__ import annotations

from dataclasses import dataclass

# --- verbatim from /root/reference/2df.c:36-72 ------------------------------
K_INDEX = [
    0x76931FAC9DAB2B36, 0xC248B87D6AE33F9A, 0x62D7183A5D5789E4, 0xB2D6B441E2411DC7,
    0x09E111C7E1E7ACB6, 0xF8CAC0BB2FC4C8BC, 0x2AE3BAAAB9165CC4, 0x58E199CB89F51B13,
    0x5F7091A5ABB0874D, 0xF3E8CB4543A5EB93, 0xB0441E9CA4C2B0FB, 0x3D30875CBF29ABD5,
    0xB1ACF38984B35AE8, 0x82809DD4CFE7ABC5, 0xC61BAA52E053B4C3, 0x643F204EF259D2E9,
    0x8042A948AAC5E884, 0xCB3EC7DB925643FD, 0x34FDD467E2CCA406, 0x035CB2744CB90A63,
    0xE51C973790334394, 0x7E02086541E4C48A, 0x99630AA9AECE1538, 0x43A4B190274EBC95,
    0x5F8592E30A2205A4, 0x85846248987550AA, 0xF2094EC59E7931DC, 0x650C7451CC61C0CB,
    0x2C46A1B3F2C349FA, 0xFF763C7F8D14DDFF, 0x946351744378D62C, 0x59285A8D7915614F,
    0x5A2AC9E0D68ACA62, 0x48A9227AB8F1930E, 0xE38AC7A9D239C9B0, 0x26A481E49D53161F,
    0x9A9513FE5271C32E, 0x9C21D156EB9F1BEA, 0x57F6AE4F1B1DE3B7, 0xFD9CEE2D9CCA7B4C,
    0x242D26C31D000B7F, 0x90B7FE48A131C7DE, 0xBFBE58165266DE56, 0xE1EDF26939AF07EC,
    0x69AB1B17D8DB6214, 0x3F2228B51551C3D2, 0xC7DE3F5072BD4D18, 0xC3AEB64CB9E8CBA8,
    0x1A0F3783EF9012DB, 0x00A903566BCE3501, 0xD2223908BCCFE509, 0x5903ACDE8FD7AB31,
    0x935DB607EA31258F, 0xE90788FDAC21BD00, 0x235AD90B73C1E502, 0xE547F90AC56B73A2,
    0xA9073451A897D342, 0xC1D23F55690BB5A1, 0x3392B830B514A6F5, 0x6AAA890D35F0FF59,
    0x763FCBA8BD62469F, 0x4FDB4529602AD675, 0x8F8263B034FADBC7, 0xF83BD098236AC562,
]

B_INDEX = [
    0x38667B6ED2B2FCAB, 0x04ABAE8676E318B4, 0x02A7D15B30D2D7DD, 0xB78650CC6AF82BC3,
    0xD7AA805B02DD9AA5, 0x23B7374A1323EE6B, 0x516D1B81E5F709C2, 0xC790EDAF1C3FA9B0,
    0xA1DBC6DABC2B5ED2, 0x67244C458752002B, 0x106D6381FAD58A7E, 0x193657BDE0FE0291,
    0x20F8379316891F82, 0x8B8D24A049E5B86D, 0x855BCFED56765F9D, 0xA1AC54CAEAF9257A,
    0xBC67B451BC70B0E5, 0x2817DD1B704A6B41, 0x8A83FD4A9CA4C89E, 0x1A6E779F8D9E9DF1,
    0x8747591E5B314C05, 0x763EDCD59632423C, 0xA83F14D6F073D784, 0xDB2B7001643A6760,
    0xF9F0DD6DDD0A59E2, 0x41DC1ED720287896, 0x286F5CC3ADDF6C1A, 0xDF6ED35F477B0022,
    0x981E5E1FBFE1BFB8, 0xE26B5BA93253275B, 0xF6A44B3FA1051CDF, 0xE3B3F5D2725A9A58,
    0x0FD5B04525B3182F, 0xCD2B3FDA124ACA3C, 0x901406A2B55CD8B9, 0x5D48D13E379F1CCB,
    0xCDFC39FEE4ACC552, 0x3AA0BDEF57E63A1F, 0x81CBABA9F45CAAED, 0x48D06BFB3D168360,
    0x42BED57CAC84761B, 0xFEB59A0C81304908, 0xBB781E4BBDF230D2, 0xE977374B97BD0B6B,
    0x7D38B736428826A0, 0xF2729BE2290256DC, 0x304E875C9D4B3FB2, 0x125AE3D0CD3130D6,
    0x3764BDCA939CAD56, 0x290BFD3EA9C74CBE, 0xCB32A05648982795, 0xB2083AFDE0219374,
    0x09389BFAD721F43D, 0x458475BADC30A38D, 0xBAD72854902BD01A, 0xCF81993A3ACB4302,
    0xF4B8EAC294A96D54, 0x18321DA9C9410111, 0x00DF012104BC0103, 0x110018201ACDF900,
    0xCC490AB371F1138F, 0x9327AD39875ABEF4, 0xABBB29843297F091, 0x0932998100000AC0,
]

# --- arithmetic domain (shared by Spark exprs and DuckDB oracle SQL) --------
HASH_MOD = 2**31          # word / shingle hash domain
PERM_P = 2**31 - 1        # Mersenne prime for the LCG permutations
SHINGLE_MULT = 1000003    # polynomial combiner for shingle windows
WORD_MULT = 31            # per-character polynomial multiplier

#: minimum matched fraction before span extraction keeps a pair, analog of
#: OMIT_LOW_DELTA (``/root/reference/idelta.c:403-419``); the token, byte
#: and oracle span lanes all read this one value
OMIT_LOW_DELTA = 0.001

# --- KMV distinct-shingle estimator (metrics.distinct_shingle_estimate) -----
# spreading permutation h = (A*s + B) mod PERM_P applied before the global
# bottom-k; classic LCG constants (public domain), both < PERM_P, and
# A * max_shingle ~ 2**61 < 2**63 so the arithmetic stays in int64.
KMV_EST_A = 1103515245
KMV_EST_B = 12345
KMV_EST_K = 1024          # bottom-k width: relative stderr ~ 1/sqrt(k) ~ 3%


def perm_constants(n_perm: int) -> tuple[list[int], list[int]]:
    """Per-permutation (k, b) pairs derived from the reference constants.

    ``k = K_INDEX[m] mod P`` (forced non-zero), ``b = B_INDEX[m] mod P`` so
    that ``k * s + b < 2**62`` for any shingle hash ``s < 2**31``.
    """
    if n_perm > len(K_INDEX):
        raise ValueError(f"n_perm {n_perm} exceeds {len(K_INDEX)} reference constants")
    ks = [(K_INDEX[m] % PERM_P) or 1 for m in range(n_perm)]
    bs = [B_INDEX[m] % PERM_P for m in range(n_perm)]
    return ks, bs


@dataclass(frozen=True)
class DedupConfig:
    """Knobs mirroring the reference CLI (``/root/reference/main.c:97-271``).

    ``n_bands``       == ``sf_num``            (run.sh: 8)
    ``rows_per_band`` == ``sf_component_num``  (run.sh: 1)
    ``shingle_window``== ``block_size``        (run.sh: 2)
    ``min_tokens``    : validity filter, analog of the decode filter that
                        rejects images < 64x64 (``/root/reference/jpeg.c:27-32``)
    ``verify_jaccard_pct`` : integer percent; the FEATURE_CHECK analog
                        (``/root/reference/2df.c:471-475``): check real
                        content, not just the sketch. A candidate pair is
                        verified iff ``100 * |inter| >= pct * |union|`` over
                        the shingle sets (pure integer math so the DuckDB
                        oracle is bit-exact)
    ``bucket_cap``    : LSH buckets larger than this are dropped (hot-band
                        boilerplate defense; the web-scale skew path). A
                        true near-dup group of size m populates ~m-sized
                        buckets in all 8 bands, so any cap >> m leaves
                        recall intact while bounding the quadratic pair
                        volume at cap^2 per bucket. Measured on the 370k
                        planted-dup corpus: candidate-level recall 0.9996
                        at cap=32 vs 0.9999 at cap=128, while the pair
                        volume drops 15.2M -> 5.6M (2.7x); true variant
                        groups are <= ~6 docs, so any cap far above that
                        only admits boilerplate bands.
    """

    n_bands: int = 8
    rows_per_band: int = 1
    shingle_window: int = 2
    min_tokens: int = 2
    verify_jaccard_pct: int = 30
    bucket_cap: int = 32
    #: bottom-k (KMV) sketch width for Jaccard verification. 0 = exact
    #: full-set Jaccard (the oracle-checked default). k>0 stores only the k
    #: smallest shingle hashes per doc and verifies with the standard KMV
    #: estimator |bottom_k(A∪B) ∩ A_k ∩ B_k| / |bottom_k(A∪B)| (Broder '97
    #: style) — at k=128 and threshold 0.30 the estimator sigma is ~0.04,
    #: so true near-dups (J>=0.5) are kept with probability ~1-3e-6 while
    #: the verify shuffle shrinks ~|set|/k (~2.5x on ~300-shingle docs).
    #: The early size-ratio prune keeps using TRUE set sizes (carried as a
    #: separate int), so its bound remains provable.
    verify_sketch_k: int = 0
    #: FIX_OPTI analog (2df.c:477-494): collapse exact-duplicate texts to one
    #: representative BEFORE the LSH stages, then expand cluster ids back.
    #: Web corpora are 30-50% exact dups, so this removes a third of the
    #: quadratic candidate work at 100 TB. Off by default for oracle parity
    #: of the stage-by-stage queries; the production pipeline turns it on.
    exact_prepass: bool = False
    #: sorted-neighborhood pairing inside hot buckets (> bucket_cap): each
    #: member pairs with its `hot_window` successors in (n_set, id) order
    #: instead of the bucket being dropped. 0 = drop hot buckets (the
    #: reference-parity behavior). Measured necessity: with drop-only,
    #: planted-pair recall decays with corpus size (0.9996 at 1.11M docs
    #: -> 0.9935 at 4.44M at cap=32) because collision mass pushes true
    #: groups' buckets over the cap; windowed hot pairing restores
    #: size-stable recall at O(s*window) cost per hot bucket.
    hot_window: int = 0
    #: third tier above the hot-window band: buckets larger than this are
    #: dropped even when hot_window > 0. A band value carried by >mega_cap
    #: documents is a corpus stop-shingle (measured at 4.44M docs: ONE
    #: band value holds 512,610 members) whose minhash match carries ~no
    #: pair signal; window-pairing it would add W*mass useless candidates.
    #: Tier masses measured at 4.44M docs, cap=32: quiet 16.5M / warm
    #: (32..1024] 12.2M / mega (>1024) 2.6M band rows in 346 buckets.
    mega_cap: int = 1024
    #: SimHash fallback for short docs (north_star): docs with fewer than
    #: this many tokens get extra candidate pairs from equal-SimHash buckets
    #: (MinHash over a handful of shingles is noisy). 0 disables.
    short_doc_tokens: int = 0

    @property
    def n_perm(self) -> int:
        return self.n_bands * self.rows_per_band

    @property
    def perms(self) -> tuple[list[int], list[int]]:
        return perm_constants(self.n_perm)


#: canonical reference-parity config (script/run.sh:6-11)
REFERENCE_CONFIG = DedupConfig()


#: production/bench scale config, each knob validated by a measured
#: recall/volume tradeoff on the planted corpus (BENCH/BASELINE.md):
#:
#: * ``verify_sketch_k=64`` — KMV bottom-64 verification: halves the
#:   dominant (verify) shuffle vs k=128; estimator miss-probability at
#:   the J=0.30 threshold is ~7e-4 per true pair, and measured 4.44M-doc
#:   recall is 0.9997.
#: * ``hot_window=4`` — sorted-neighborhood pairing inside hot buckets:
#:   without it, recall DECAYS with corpus size (0.9996 at 1.11M docs ->
#:   0.9935 at 4.44M at cap=32) because collision mass pushes true
#:   groups' buckets over the cap; with it, 0.999993 at 1.11M and
#:   0.999696 at 4.44M.
#: * ``mega_cap=1024`` (dataclass default) — buckets above it are
#:   stop-shingle bands and stay dropped.
#:
#: Oracle-parity queries keep REFERENCE_CONFIG (exact full-set Jaccard,
#: drop-only cap); the hot-window operator has its own oracle-gated query
#: (``dedup_candidate_pairs_hotwin``).
SCALE_CONFIG = DedupConfig(verify_sketch_k=64, hot_window=4)

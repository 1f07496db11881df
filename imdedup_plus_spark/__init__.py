"""imdedup_plus_spark — a from-scratch PySpark-native near-duplicate
detection + clustering engine with the capabilities of DDDCai/imDedup_plus,
recast over Common-Crawl-style web text.

Pipeline (SURVEY.md §3.1 step 5), as ``pipeline.CheckpointedPipeline``
runs it:

documents -> signature_kernel_arrow (validity filter + signatures)
          -> verified_pairs (explode_bands, one band-key exchange, a
             sorted mapInArrow walk that pairs and verifies each bucket
             run, one groupBy counting matching bands)
          -> clusters_from_pairs -> extract_spans -> metrics / sinks

``with_signature`` and ``verify_pairs`` are the SQL twins of the two
kernels, and ``candidate_pairs_direct`` the plain self-join twin of the
walker's pair rules, kept as the references the parity tests compare
against.
"""

from .config import DedupConfig, REFERENCE_CONFIG  # noqa: F401

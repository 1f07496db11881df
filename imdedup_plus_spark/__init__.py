"""imdedup_plus_spark — a from-scratch PySpark-native near-duplicate
detection + clustering engine with the capabilities of DDDCai/imDedup_plus,
recast over Common-Crawl-style web text.

Pipeline (SURVEY.md §3.1 step 5), as ``pipeline.CheckpointedPipeline``
runs it:

documents -> signature_kernel_arrow (validity filter + signatures)
          -> explode_bands -> candidate_pairs -> verify_pairs_kernel
          -> clusters_from_pairs -> extract_spans -> metrics / sinks

``with_signature`` and ``verify_pairs`` are the SQL twins of the two
kernels, kept as the references the kernel parity tests compare against.
"""

from .config import DedupConfig, REFERENCE_CONFIG  # noqa: F401

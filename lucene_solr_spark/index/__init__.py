"""The index lifecycle: build (invert → dictionary, norms and stats →
pack by grid cell), append, delete, compact, expunge, save and load."""

from .builder import IndexBuilder, InvertedIndex  # noqa: F401
from .compact import compact, needs_compaction  # noqa: F401
from .deletes import (delete_docs, expunge_deletes, live_doc_count,  # noqa: F401
                      soft_delete_docs)
from .merge import append, update_documents  # noqa: F401

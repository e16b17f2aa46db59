from .pages import docs_from_pages, iter_http_pages  # noqa: F401
from .generator import generate_shift_docs  # noqa: F401
from .tables import load_table  # noqa: F401

from .algebra import TripleStore, path_join  # noqa: F401
from .closure import transitive_closure  # noqa: F401

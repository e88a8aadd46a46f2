from .dedup import (  # noqa: F401
    lww_reduce,
    lww_reduce_window,
)
from .fk_guard import fk_guard  # noqa: F401
from .closure import transitive_closure  # noqa: F401
